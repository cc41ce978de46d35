"""LLM-data-pipeline queries: dedup family, similarity search, text
analysis, multimodal plumbing (SURVEY.md §2.12 — north-star operators, no
reference analogue).

Every oracle below is GENERATED from the same constants/SQL builders the
Spark operators use (functions/text.py, functions/vectors.py), so the two
sides cannot drift. All float outputs are produced by identical operation
orders in both engines (verified bit-exact at sf0.01).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import pii as P
from ..functions import text as T
from ..functions import vectors as V
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators.scan import _persist_tracked
from .registry import register, table

JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 8
ANN_K = 5
ANN_QUERY_MOD = 50  # queries = vec_id % 50 == 0
IVF_CENTROID_MOD = 25  # centroid seeds = vec_id % 25 == 0
IVF_NPROBE = 3
# Benchmark workloads are FIXED-SIZE, not corpus-proportional: query and
# centroid seed sets are drawn from the first ANN_SEED_CAP ids only. At
# every driver scale (sf <= 0.1 has vec_id < 2000) the cap is a no-op —
# results are bit-identical to the uncapped definition — but at sf1+ it
# pins |queries| = 40 and |centroids| = 80, which is what keeps the
# brute-force/IVF evaluation LINEAR in corpus size: a modulus-only rule
# grows BOTH sides with N (queries x corpus = quadratic by construction,
# measured 35x for 10x data in the r5 scale rehearsal), while real ANN
# benchmarks (SIFT1M, MS MARCO) hold the query set constant as the
# corpus grows. Production IVF would additionally scale the cell count
# ~sqrt(N); here the cell count is pinned by the seed lattice so the
# DuckDB oracle can replay assignment deterministically at any scale.
ANN_SEED_CAP = 2000

# --- shared oracle CTE fragments ------------------------------------------

_SHINGLE_IDX_CTE = f"""
toks AS (SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents),
sh AS (SELECT doc_id, {T.shingles_sql()} AS shs FROM toks),
idx AS (SELECT doc_id AS did, unnest(shs) AS sh FROM sh)
"""

_JACCARD_TAIL_SQL = f"""
sizes AS (SELECT did, count(*) AS n FROM idx GROUP BY did),
pairs AS (
  SELECT a.did AS doc_a, b.did AS doc_b, count(*) AS inter
  FROM idx a JOIN idx b ON a.sh = b.sh AND a.did < b.did
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b,
         (CAST(inter AS DOUBLE) / (na.n + nb.n - CAST(inter AS DOUBLE))) AS jac
  FROM pairs
  JOIN sizes na ON na.did = doc_a
  JOIN sizes nb ON nb.did = doc_b
)
"""

_HASHES_CTE = f"hashes AS (SELECT did, {T.portable_hash32_sql('sh')} AS h FROM idx)"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
@register(
    "dedup_exact_docs",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
    tags=("dedup", "llm"),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5 digest groups with keeper id + group size.
    Single hash-shuffle on the 32-byte digest (SURVEY §2.12)."""
    return D.exact_dup_groups(table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup (the baseline the LSH path approximates)
# ---------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_IDX_CTE}, {_JACCARD_TAIL_SQL}
    SELECT doc_a, doc_b, jac FROM jac WHERE jac >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "llm", "join"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-word-shingle Jaccard pairs >= 0.5 via the shingle inverted-index
    join (no cross join; candidate pairs only where shingles collide)."""
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_THRESHOLD
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH near-dup (the 100 TB path)
# ---------------------------------------------------------------------------
def _minhash_oracle() -> str:
    sig_cols = ",\n         ".join(
        f"min({T.minhash_sql('h', i)}) AS mh{i}" for i in range(T.MINHASH_K)
    )
    band_selects = "\n  UNION ALL ".join(
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
    {_HASHES_CTE},
    sig AS (SELECT did, {sig_cols} FROM hashes GROUP BY did),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT x.did AS doc_a, y.did AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.did < y.did
    ),
    {_JACCARD_TAIL_SQL.lstrip()}
    SELECT j.doc_a, j.doc_b, j.jac
    FROM jac j JOIN cand USING (doc_a, doc_b)
    WHERE j.jac >= {JACCARD_THRESHOLD}
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("dedup", "llm", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=16) -> 8x2 banded LSH candidates -> exact-Jaccard verify.
    Verification cost scales with candidates, not pairs — the scale path."""
    return D.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_THRESHOLD
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------
def _simhash_oracle() -> str:
    bit_sums = ",\n         ".join(
        f"sum(((h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(32)
    )
    fp = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32))
    band_selects = "\n  UNION ALL ".join(
        f"SELECT did, simhash, {b} AS band, (simhash >> {8 * b}) & 255 AS bkey FROM fps"
        for b in range(4)
    )
    return f"""
    WITH {_SHINGLE_IDX_CTE},
    {_HASHES_CTE},
    sums AS (SELECT did, {bit_sums} FROM hashes GROUP BY did),
    fps AS (SELECT did, CAST({fp} AS BIGINT) AS simhash FROM sums),
    bands AS ({band_selects}),
    pairs AS (
      SELECT DISTINCT x.did AS doc_a, y.did AS doc_b,
             bit_count(xor(x.simhash, y.simhash)) AS hamming
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.did < y.did
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {SIMHASH_MAX_HAMMING}
    """


@register("dedup_simhash", oracle=_simhash_oracle(), tags=("dedup", "llm", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash near-dup pairs (hamming <= 8) with 8-bit-band
    candidate generation — constant-size fingerprints, one agg pass."""
    return D.simhash_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", SIMHASH_MAX_HAMMING
    )


# ---------------------------------------------------------------------------
# Embedding similarity: brute-force top-k (exact baseline)
# ---------------------------------------------------------------------------
_COS_EQ = V.cosine_sql("e.v", "q.qv")


@register(
    "sim_embedding_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    scored AS (
      SELECT q.qid, e.vec_id, {_COS_EQ} AS sim
      FROM e, q WHERE e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT qid, vec_id, sim, rnk FROM ranked WHERE rnk <= {ANN_K}
    """,
    tags=("similarity", "llm", "vector"),
)
def sim_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for every 50th vector. Query side is
    broadcast; corpus scanned once; only (q x k) rows shuffle for ranking."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP))
    return S.brute_force_topk(emb, queries, ANN_K)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of two rankers
# ---------------------------------------------------------------------------
RRF_DEPTH = 20  # per-ranker candidate depth fed into the fusion
RRF_CONST = 60  # the canonical RRF smoothing constant
RRF_TRUNC_DIM = 16  # matryoshka prefix for the cheap second ranker
_COS_TRUNC_EQ = V.cosine_sql(
    f"e.v[1:{RRF_TRUNC_DIM}]", f"q.qv[1:{RRF_TRUNC_DIM}]"
)


@register(
    "sim_rrf_fusion",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e
          WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    scored AS (
      SELECT q.qid, e.vec_id, {_COS_EQ} AS sim_full, {_COS_TRUNC_EQ} AS sim_trunc
      FROM e, q WHERE e.vec_id <> q.qid
    ),
    ca AS (
      SELECT qid, vec_id, r FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim_full DESC, vec_id) AS r
        FROM scored) WHERE r <= {RRF_DEPTH}
    ),
    cb AS (
      SELECT qid, vec_id, r FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim_trunc DESC, vec_id) AS r
        FROM scored) WHERE r <= {RRF_DEPTH}
    ),
    fused AS (
      SELECT COALESCE(a.qid, b.qid) AS qid,
             COALESCE(a.vec_id, b.vec_id) AS vec_id,
             CAST(COALESCE(a.r, 0) AS BIGINT) AS rank_full,
             CAST(COALESCE(b.r, 0) AS BIGINT) AS rank_trunc,
             (CASE WHEN a.r IS NULL THEN 0.0
                   ELSE 1.0 / CAST({RRF_CONST} + a.r AS DOUBLE) END)
           + (CASE WHEN b.r IS NULL THEN 0.0
                   ELSE 1.0 / CAST({RRF_CONST} + b.r AS DOUBLE) END) AS rrf_score
      FROM ca a FULL OUTER JOIN cb b
        ON a.qid = b.qid AND a.vec_id = b.vec_id
    ),
    ranked AS (
      SELECT qid, vec_id, rank_full, rank_trunc, rrf_score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY rrf_score DESC, vec_id) AS fused_rank
      FROM fused
    )
    SELECT qid, vec_id, rank_full, rank_trunc, rrf_score,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM ranked WHERE fused_rank <= {ANN_K}
    """,
    tags=("similarity", "llm", "vector", "fusion"),
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: fuse the exact
    full-dimension cosine top-20 with a matryoshka-truncated (first 16
    dims) cosine top-20 per query — the realistic cheap-ranker/precise-
    ranker pair (the fixture embeddings are unit-norm, so a raw-dot
    second ranker would be degenerate). Score = 1/(60+r_full) +
    1/(60+r_trunc), absent ranks contribute 0; keep the fused top-5.
    The score arithmetic is two pinned double divisions + one add —
    bit-exact vs the oracle. Plan: the corpus is scanned twice (once per
    ranker) with the query side broadcast; the fusion itself joins two
    |q| x 20 lists — its cost is independent of corpus size (see
    operators/similarity.rrf_fuse). At 100 TB the truncated ranker reads
    a 4x-narrower column (or a separate matryoshka table) and the full
    ranker re-ranks only fused survivors."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP)
    )
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, RRF_TRUNC_DIM).alias("embedding")
    )
    tqueries = queries.select(
        "vec_id", F.slice("embedding", 1, RRF_TRUNC_DIM).alias("embedding")
    )
    full_list = S.brute_force_topk(emb, queries, RRF_DEPTH, metric="cosine")
    trunc_list = S.brute_force_topk(trunc, tqueries, RRF_DEPTH, metric="cosine")
    out = S.rrf_fuse(full_list, trunc_list, ANN_K, RRF_CONST)
    return out.select(
        "qid",
        "vec_id",
        F.col("rank_a").alias("rank_full"),
        F.col("rank_b").alias("rank_trunc"),
        "rrf_score",
        "fused_rank",
    )


# ---------------------------------------------------------------------------
# Embedding similarity: IVF-pruned top-k (the scale path)
# ---------------------------------------------------------------------------
def _ivf_oracle() -> str:
    cos_vc = V.cosine_sql("e.v", "c.cv")
    cos_qc = V.cosine_sql("q.qv", "c.cv")
    cos_qv = V.cosine_sql("a.v", "p.qv")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {IVF_CENTROID_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    assigned AS (
      SELECT vec_id, v, cid AS cluster_id FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_vc} DESC, c.cid) AS r
        FROM e, cents c
      ) WHERE r = 1
    ),
    probes AS (
      SELECT qid, qv, cid AS cluster_id FROM (
        SELECT q.qid, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY {cos_qc} DESC, c.cid) AS r
        FROM q, cents c
      ) WHERE r <= {IVF_NPROBE}
    ),
    scored AS (
      SELECT DISTINCT p.qid, a.vec_id, {cos_qv} AS sim
      FROM assigned a JOIN probes p USING (cluster_id)
      WHERE a.vec_id <> p.qid
    ),
    ranked AS (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT qid, vec_id, sim, rnk FROM ranked WHERE rnk <= {ANN_K}
    """


@register("sim_ann_ivf", oracle=_ivf_oracle(), tags=("similarity", "llm", "ann"))
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: assign corpus to 20 seeded centroids, probe the
    3 nearest centroid lists per query — candidates shrink ~7x vs brute
    force here, ~|centroids|/nprobe at scale."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP))
    cents = emb.filter((F.col("vec_id") % IVF_CENTROID_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP))
    return S.ivf_topk(emb, queries, cents, ANN_K, IVF_NPROBE)


# ---------------------------------------------------------------------------
# Dedup clusters: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------
def _clusters_oracle() -> str:
    return f"""
    WITH {_SHINGLE_IDX_CTE}, {_JACCARD_TAIL_SQL},
    pairs_t AS (SELECT doc_a, doc_b FROM jac WHERE jac >= {JACCARD_THRESHOLD}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs_t
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs_t
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT src AS node,
           MIN(node) AS component,
           (src = MIN(node)) AS is_keeper
    FROM reach GROUP BY src
    """


@register(
    "dedup_clusters",
    oracle="WITH RECURSIVE" + _clusters_oracle().split("WITH", 1)[1],
    tags=("dedup", "llm", "graph", "iterative"),
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from pair edges: iterative min-label propagation
    (connected components) — each component's minimum doc id is the keeper.
    The step that turns pairwise similarity into an actual dedup decision.
    Oracle: recursive-CTE reachability (same min-reachable-id semantics)."""
    from ..operators.components import dedup_clusters

    pairs = D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")
    return dedup_clusters(pairs, "doc_a", "doc_b")


# ---------------------------------------------------------------------------
# B-cubed evaluation of the dedup clustering against the lang gold labels
# ---------------------------------------------------------------------------
BCUBED_Q = 1 << 20  # fixed-point scale for the per-item fraction sums


def bcubed_cell_quotient(c_kl: Column, n: Column) -> Column:
    """div(c_kl^2 * 2^20, n) with DECIMAL(38,0) intermediates (r7 verdict
    ask #3): the product c_kl^2 * 2^20 would overflow int64 once a
    (cluster,label) cell exceeds ~2^21 ~= 2.1M rows, so both factors are
    widened to DECIMAL(38,0) BEFORE multiplying. Spark's IntegralDivide
    accepts decimal operands and returns BIGINT (truncation toward zero,
    matching DuckDB's HUGEINT `//` for these nonnegative values), so the
    quotient — bounded by c_kl * 2^20 since c_kl <= n — needs only
    c_kl < 2^43 ~= 8.8e12 rows per cell, comfortably past 100 TB."""
    c = c_kl.cast("decimal(38,0)")
    return F.call_function("div", c * c * F.lit(BCUBED_Q), n.cast("decimal(38,0)"))


def _bcubed_oracle() -> str:
    return f"""
    WITH RECURSIVE {_SHINGLE_IDX_CTE}, {_JACCARD_TAIL_SQL},
    pairs_t AS (SELECT doc_a, doc_b FROM jac WHERE jac >= {JACCARD_THRESHOLD}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs_t
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs_t
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT src AS node, MIN(node) AS component FROM reach GROUP BY src),
    assign AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster, d.lang
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    cl AS (SELECT cluster, lang, COUNT(*) AS c_kl FROM assign GROUP BY cluster, lang),
    nk AS (SELECT cluster, COUNT(*) AS n_k FROM assign GROUP BY cluster),
    nl AS (SELECT lang, COUNT(*) AS n_l FROM assign GROUP BY lang),
    sums AS (
      SELECT CAST(SUM((CAST(t.c_kl AS HUGEINT) * t.c_kl * {BCUBED_Q}) // k.n_k)
                  AS BIGINT) AS p_q,
             CAST(SUM((CAST(t.c_kl AS HUGEINT) * t.c_kl * {BCUBED_Q}) // l.n_l)
                  AS BIGINT) AS r_q
      FROM cl t JOIN nk k ON k.cluster = t.cluster
                JOIN nl l ON l.lang = t.lang
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters
      FROM assign
    )
    SELECT t.n_docs, t.n_clusters, s.p_q, s.r_q,
           CAST(s.p_q AS DOUBLE) / CAST(t.n_docs * {BCUBED_Q} AS DOUBLE)
             AS bcubed_precision,
           CAST(s.r_q AS DOUBLE) / CAST(t.n_docs * {BCUBED_Q} AS DOUBLE)
             AS bcubed_recall,
           (2.0 * (CAST(s.p_q AS DOUBLE) / CAST(t.n_docs * {BCUBED_Q} AS DOUBLE))
                * (CAST(s.r_q AS DOUBLE) / CAST(t.n_docs * {BCUBED_Q} AS DOUBLE)))
           / ((CAST(s.p_q AS DOUBLE) / CAST(t.n_docs * {BCUBED_Q} AS DOUBLE))
            + (CAST(s.r_q AS DOUBLE) / CAST(t.n_docs * {BCUBED_Q} AS DOUBLE)))
             AS bcubed_f1
    FROM tot t CROSS JOIN sums s
    """


@register(
    "dedup_bcubed_eval",
    oracle=_bcubed_oracle(),
    tags=("dedup", "llm", "eval", "iterative"),
)
def dedup_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed (Bagga & Baldwin) extrinsic evaluation of the near-dup
    clustering against the documents' lang labels: per-item precision =
    |cluster ∩ gold|/|cluster| and recall = |cluster ∩ gold|/|gold|,
    averaged over items — computed as sum over (cluster, label) cells of
    c_kl^2/n_k and c_kl^2/n_l. Docs outside any near-dup pair are their
    own singleton cluster (perfect per-item precision, the standard
    convention). The per-cell fractions are QUANTIZED to fixed-point
    integers (div(c_kl^2 * 2^20, n)) before summing, so the global sum
    is an integer — order-free and bit-exact — and only the final
    normalizations are (pinned) double divisions; the quantization
    under-counts each cell by < 1/2^20, immaterial for a quality metric
    and fully mirrored in the oracle. Scale: the c_kl^2 * 2^20 product is
    computed in DECIMAL(38,0) (HUGEINT in the oracle) via
    `bcubed_cell_quotient`, so the binding constraint is the BIGINT
    quotient, c_kl < 2^43 ~= 8.8e12 rows per (cluster,label) cell — no
    cliff at the 100 TB target (the old int64 product capped cells at
    ~2.1M rows; see test_bcubed_quantization_3m_cell). The global sums
    p_q, r_q are bounded by n_docs * 2^20 < 2^63 for n_docs < 2^43.
    One shuffle each for the cell /
    cluster-size / label-size aggs; the label marginal broadcasts; the
    cluster step itself reuses the iterative min-label components."""
    from ..operators.components import dedup_clusters

    d = table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, "doc_id", "text", JACCARD_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    comp = dedup_clusters(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    assign = d.select("doc_id", "lang").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("cluster"),
        "lang",
    )
    cl = assign.groupBy("cluster", "lang").agg(F.count("*").alias("c_kl"))
    nk = assign.groupBy("cluster").agg(F.count("*").alias("n_k"))
    nl = assign.groupBy("lang").agg(F.count("*").alias("n_l"))
    sums = (
        cl.join(nk, "cluster")
        .join(F.broadcast(nl), "lang")
        .agg(
            F.sum(bcubed_cell_quotient(F.col("c_kl"), F.col("n_k")))
            .cast("long")
            .alias("p_q"),
            F.sum(bcubed_cell_quotient(F.col("c_kl"), F.col("n_l")))
            .cast("long")
            .alias("r_q"),
        )
    )
    tot = assign.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("cluster").alias("n_clusters"),
    )
    denom = (F.col("n_docs") * F.lit(BCUBED_Q).cast("long")).cast("double")
    p = F.col("p_q").cast("double") / denom
    r = F.col("r_q").cast("double") / denom
    return tot.crossJoin(sums).select(
        "n_docs",
        "n_clusters",
        "p_q",
        "r_q",
        p.alias("bcubed_precision"),
        r.alias("bcubed_recall"),
        ((F.lit(2.0) * p * r) / (p + r)).alias("bcubed_f1"),
    )


def _components_star_oracle() -> str:
    return f"""
    WITH RECURSIVE {_SHINGLE_IDX_CTE}, {_JACCARD_TAIL_SQL},
    pairs_t AS (SELECT doc_a, doc_b FROM jac WHERE jac >= {JACCARD_THRESHOLD}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs_t
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs_t
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT src AS node, MIN(node) AS component
    FROM reach GROUP BY src
    """


@register(
    "graph_components_star",
    oracle=_components_star_oracle(),
    tags=("dedup", "llm", "graph", "iterative"),
)
def graph_components_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by LARGE-STAR/SMALL-STAR alternation (Kiveris
    et al., SoCC'14) over the same near-dup pair graph as `dedup_clusters`
    — the O(log n)-round algorithm that replaces O(diameter) min-label
    when components are deep chains or hub-heavy (min-label on a 60-node
    chain needs 59 rounds and now refuses; star needs ~6). Every round is
    two min-aggregates + joins, no neighbor list is ever materialized,
    and each round's edge set is eagerly localCheckpoint-ed to keep the
    iterative plan constant-size. Oracle: recursive-CTE reachability —
    identical (node, component) output to the min-label operator."""
    from ..operators.components import connected_components_star

    pairs = D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")
    return connected_components_star(pairs, "doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (cluster-blocked pairs)
# ---------------------------------------------------------------------------
COSINE_DUP_THRESHOLD = 0.4


def _emb_neardup_oracle() -> str:
    cos_vc = V.cosine_sql("e.v", "c.cv")
    cos_ab = V.cosine_sql("a.v", "b.v")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {IVF_CENTROID_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    assigned AS (
      SELECT vec_id, v, cid AS cluster_id FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_vc} DESC, c.cid) AS r
        FROM e, cents c
      ) WHERE r = 1
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos_ab} AS sim
    FROM assigned a JOIN assigned b
      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    WHERE {cos_ab} >= {COSINE_DUP_THRESHOLD}
    """


@register(
    "dedup_embedding_cosine",
    oracle=_emb_neardup_oracle(),
    tags=("dedup", "llm", "vector"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by IVF cluster: candidate
    pairs only form INSIDE a centroid bucket (|pairs| ~ n^2/|clusters|
    instead of n^2 — at 100 TB the buckets are written partitioned so the
    pair join is shuffle-local). Verification threshold 0.4."""
    from ..functions.vectors import dot

    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter((F.col("vec_id") % IVF_CENTROID_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP))
    assigned = S.ivf_assign(emb, cents)
    a = assigned.alias("a")
    b = assigned.alias("b")
    sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))
    return (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= COSINE_DUP_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Text analysis: token stats
# ---------------------------------------------------------------------------
@register(
    "text_token_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, n_chars, {T.tokens_sql("text")} AS ts,
                         len(regexp_extract_all(text, '[a-z0-9]+')) AS n_bpe
                  FROM documents)
    SELECT doc_id,
           len(ts) AS n_tokens,
           len(list_distinct(ts)) AS n_distinct,
           n_bpe,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(ts, t -> CAST(len(t) AS BIGINT))),
                  (a, b) -> a + b) AS DOUBLE) / len(ts) AS avg_tok_len
    FROM toks
    """,
    tags=("text", "llm"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct types, regex (BPE-ish)
    token count, mean token length — all codegen'd expressions."""
    docs = table(spark, sf_dir, "documents")
    ts = T.tokens(F.col("text"))
    sum_len = F.aggregate(
        ts, F.lit(0).cast("long"), lambda a, t: a + F.length(t).cast("long")
    )
    return docs.select(
        "doc_id",
        F.size(ts).alias("n_tokens"),
        F.size(F.array_distinct(ts)).alias("n_distinct"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).alias("n_bpe"),
        (sum_len.cast("double") / F.size(ts)).alias("avg_tok_len"),
    )


# ---------------------------------------------------------------------------
# Text analysis: quality scoring
# ---------------------------------------------------------------------------
_EN_STOPS = T.LANG_STOPWORDS["en"]
_EN_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in _EN_STOPS) + "]"


@register(
    "text_quality_score",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents),
    feats AS (
      SELECT doc_id,
             len(ts) AS n_tokens,
             CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS ttr,
             CAST(len(list_intersect(list_distinct(ts), {_EN_STOPS_SQL})) AS DOUBLE)
               / len(list_distinct(ts)) AS stop_ratio
      FROM toks
    )
    SELECT doc_id, n_tokens, ttr, stop_ratio,
           (CASE WHEN n_tokens BETWEEN 20 AND 400 THEN 0.5 ELSE 0.0 END)
             + 0.25 * ttr + 0.25 * stop_ratio AS quality
    FROM feats
    """,
    tags=("text", "llm"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length gate + type-token ratio + stopword
    ratio, combined with fixed weights (identical op order to the oracle)."""
    docs = table(spark, sf_dir, "documents")
    ts = T.tokens(F.col("text"))
    dts = F.array_distinct(ts)
    stops = F.array(*[F.lit(w) for w in _EN_STOPS])
    feats = docs.select(
        "doc_id",
        F.size(ts).alias("n_tokens"),
        (F.size(dts).cast("double") / F.size(ts)).alias("ttr"),
        (F.size(F.array_intersect(dts, stops)).cast("double") / F.size(dts)).alias(
            "stop_ratio"
        ),
    )
    return feats.select(
        "doc_id",
        "n_tokens",
        "ttr",
        "stop_ratio",
        (
            F.when(F.col("n_tokens").between(20, 400), F.lit(0.5)).otherwise(0.0)
            + F.lit(0.25) * F.col("ttr")
            + F.lit(0.25) * F.col("stop_ratio")
        ).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Text analysis: language-ID heuristic
# ---------------------------------------------------------------------------
def _lang_oracle() -> str:
    score_cols = ",\n           ".join(
        "len(list_intersect(dts, {lst})) AS s_{lang}".format(
            lst="[" + ", ".join(f"'{w}'" for w in ws) + "]", lang=lang
        )
        for lang, ws in T.LANG_STOPWORDS.items()
    )
    langs = sorted(T.LANG_STOPWORDS)  # tiebreak: alphabetical wins
    mx = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = " ".join(f"WHEN s_{lang} = {mx} THEN '{lang}'" for lang in langs)
    s_out = ", ".join(f"s_{lang}" for lang in langs)
    return f"""
    WITH toks AS (SELECT doc_id, lang, {T.distinct_tokens_sql("text")} AS dts
                  FROM documents),
    scores AS (SELECT doc_id, lang, {score_cols} FROM toks)
    SELECT doc_id, lang, {s_out},
           CASE {case} END AS predicted_lang
    FROM scores
    """


@register("text_lang_id", oracle=_lang_oracle(), tags=("text", "llm", "langid"))
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/function-word language heuristic: per-language stopword-hit
    scores, argmax with alphabetical tiebreak. (The synthetic corpus shares
    one vocabulary across langs, so this measures the operator, not the
    labels.)"""
    docs = table(spark, sf_dir, "documents")
    scores = T.lang_scores(F.col("text"))
    scored = docs.select(
        "doc_id", "lang", *[s.alias(f"s_{lang}") for lang, s in scores]
    )
    langs = sorted(T.LANG_STOPWORDS)
    mx = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    expr = None
    for lang in langs:
        cond = F.col(f"s_{lang}") == mx
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return scored.select(
        "doc_id", "lang", *[f"s_{lang}" for lang in langs], expr.alias("predicted_lang")
    )


# ---------------------------------------------------------------------------
# Text analysis: document fingerprint (rolling hash)
# ---------------------------------------------------------------------------
@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, {T.rolling_fingerprint_sql("text")} AS fingerprint
    FROM documents
    """,
    tags=("text", "llm", "hash"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the token stream —
    a content fingerprint that distinguishes reorderings (unlike md5 of
    the sorted token set)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.rolling_fingerprint(F.col("text")).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# local document fingerprinting algorithm)
# ---------------------------------------------------------------------------
WINNOW_K = 3  # k-gram width (word trigrams, same unit as the shingle index)
WINNOW_W = 4  # winnowing window: one fingerprint guaranteed per w k-grams
WINNOW_POS_SCALE = 1 << 24  # (hash, pos) packed key; pos < 2^24 per doc


def _winnow_oracle() -> str:
    gram = " || ' ' || ".join(f"ts[i + {j}]" for j in range(WINNOW_K))
    return f"""
    WITH toks AS (SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents),
    g AS (
      SELECT doc_id, len(ts) - {WINNOW_K - 1} AS n_grams, i AS pos,
             {T.portable_hash32_sql(f"({gram})")} AS h
      FROM toks,
           LATERAL (SELECT unnest(range(1,
                      greatest(len(ts) - {WINNOW_K - 2}, 1))) AS i) r
      WHERE len(ts) >= {WINNOW_K}
    ),
    keyed AS (
      SELECT doc_id, n_grams, pos,
             h * {WINNOW_POS_SCALE} + ({WINNOW_POS_SCALE} - pos) AS key
      FROM g
    ),
    win AS (
      SELECT doc_id, n_grams, pos,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {WINNOW_W - 1} FOLLOWING) AS wmin
      FROM keyed
    )
    SELECT DISTINCT doc_id,
           CAST(wmin // {WINNOW_POS_SCALE} AS BIGINT) AS fp_hash,
           CAST({WINNOW_POS_SCALE} - (wmin % {WINNOW_POS_SCALE}) AS BIGINT)
             AS pos
    FROM win
    WHERE pos <= n_grams - {WINNOW_W - 1}
    """


@register(
    "text_winnowing_fingerprints",
    oracle=_winnow_oracle(),
    tags=("text", "llm", "hash", "window"),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints (the MOSS algorithm): hash every
    word {WINNOW_K}-gram, slide a {WINNOW_W}-wide window over the hash
    sequence, and select each window's minimum (rightmost on ties) —
    guaranteeing a shared fingerprint for any match of length >=
    w + k - 1 tokens while storing ~2/(w+1) of all grams. The LOCAL
    selection property (each window chooses independently of the rest of
    the document) is what makes it the plagiarism/near-dup positional
    fingerprint, vs `text_fingerprint`'s single whole-doc hash.

    The per-window rightmost-min argmin is ONE stock window pass, no
    per-window explode: (hash, pos) packs into the integer key
    h * 2^24 + (2^24 - pos), so MIN(key) over [current, w-1 following]
    is simultaneously min-hash and rightmost-tie — exact integers, bit-
    identical both engines (documented bound: < 2^24 ~= 16.7M grams per
    document; longer docs should be pre-chunked). The window partitions
    by doc_id over GRAM rows, so task skew is bounded by the longest
    single document, not data scale. Only full windows select (docs
    shorter than w+k-1 tokens emit nothing — the standard convention)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("ts"))
    n_grams = F.size("ts") - (WINNOW_K - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ",
        *[F.element_at("ts", (i + j).cast("int")) for j in range(WINNOW_K)],
    )
    grams = toks.filter(F.size("ts") >= WINNOW_K).select(
        "doc_id",
        n_grams.alias("n_grams"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.struct(
                    i.alias("pos"), T.portable_hash32(gram(i)).alias("h")
                ),
            )
        ).alias("g"),
    )
    keyed = grams.select(
        "doc_id",
        "n_grams",
        F.col("g.pos").alias("pos"),
        (
            F.col("g.h") * WINNOW_POS_SCALE
            + (F.lit(WINNOW_POS_SCALE) - F.col("g.pos"))
        ).alias("key"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    win = keyed.withColumn("wmin", F.min("key").over(w))
    return (
        win.filter(F.col("pos") <= F.col("n_grams") - (WINNOW_W - 1))
        .select(
            "doc_id",
            F.call_function(
                "div", F.col("wmin"), F.lit(WINNOW_POS_SCALE)
            ).alias("fp_hash"),
            (
                F.lit(WINNOW_POS_SCALE)
                - F.pmod(F.col("wmin"), F.lit(WINNOW_POS_SCALE))
            ).alias("pos"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (hash-mod sampling)
# ---------------------------------------------------------------------------
@register(
    "docs_train_test_split",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_id
    FROM b GROUP BY 1, 2
    """,
    tags=("llm", "sampling", "split"),
)
def docs_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment via hash-mod bucketing — unlike
    rand()-based sampling this is deterministic, stable under re-runs and
    repartitioning, and portable across engines (the property a training
    pipeline actually needs: a document's split never changes)."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return d.groupBy("lang", split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
    )


# ---------------------------------------------------------------------------
# Multimodal: binary payload + Arrow-batched decode stub
# ---------------------------------------------------------------------------
@register(
    "multimodal_frames",
    oracle="""
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(least(256, length(text) - i * 256) AS INT) AS frame_len,
           md5(substring(text, CAST(i * 256 + 1 AS BIGINT), 256)) AS frame_md5
    FROM documents,
         unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS t(i)
    """,
    tags=("multimodal", "llm", "pandas_udf", "one_to_many"),
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over binary payloads (the audio/video pattern):
    one-to-MANY Arrow-batched mapInPandas — each document yields
    ceil(bytes/256) frame rows with per-frame digests. (Oracle slices the
    string; byte-exact because the corpus is ASCII — with real media the
    oracle would be rows-only.)"""
    docs = table(spark, sf_dir, "documents")
    binary = M.attach_binary(docs, "doc_id", "text")
    return M.sample_frames(binary)


@register(
    "multimodal_decode",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             octet_length(encode(text)) AS L,
             octet_length(encode(text)) % 11 + 5 AS w,
             hex(encode(text)) AS hx
      FROM documents
    ),
    g AS (
      SELECT *, GREATEST(1, (L + w - 1) // w) AS h FROM s
    ),
    px AS (
      SELECT g.doc_id, g.w, g.h, g.L, kk.k,
             CASE WHEN kk.k < g.L
                  THEN CAST(('0x' || substring(g.hx, 2 * kk.k + 1, 2))
                            AS BIGINT)
                  ELSE 0 END AS p
      FROM g, LATERAL (SELECT unnest(range(0, g.w * g.h)) AS k) kk
    )
    SELECT doc_id,
           TRUE AS decode_ok,
           CAST(MIN(w) AS BIGINT) AS width,
           CAST(MIN(h) AS BIGINT) AS height,
           CAST(MIN(w) * MIN(h) AS BIGINT) AS n_pixels,
           CAST(SUM(p) AS BIGINT) AS pix_sum,
           CAST(MIN(p) AS BIGINT) AS pix_min,
           CAST(MAX(p) AS BIGINT) AS pix_max,
           CAST(MAX(CASE WHEN k = 0 THEN p END) AS BIGINT) AS pixel_00,
           CAST(MAX(CASE WHEN k = w * h - 1 THEN p END) AS BIGINT)
             AS pixel_last
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "llm", "pandas_udf"),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline, REAL end to end since round 11 (VERDICT
    r10 ask #4): attach payload bytes, ENCODE them into spec-conformant
    grayscale PNGs (real zlib deflate, real CRC-32, all five RFC 2083
    filters rotating per scanline), then DECODE the wire bytes back via
    the Arrow-batched real PNG decoder — chunk walk with CRC checks,
    stdlib-zlib inflate (adler32-verified), full defilter — and emit the
    recovered dimensions + pixel statistics. The oracle recomputes the
    stats from the ground-truth text bytes, so hash-equality proves the
    encode->wire->decode loop is pixel-exact; the JVM-expression twin of
    this decoder (no Python at all) is multimodal_png_decode_gray. Both
    kernels are partition-parallel; bytes never reach the driver."""
    docs = table(spark, sf_dir, "documents")
    binary = M.attach_binary(docs, "doc_id", "text")
    decoded = M.decode_image(M.encode_png_gray(binary))
    return decoded.select(
        "doc_id", "decode_ok", "width", "height", "n_pixels", "pix_sum",
        "pix_min", "pix_max", "pixel_00", "pixel_last",
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary: term frequency + document frequency (explode + top-k)
# ---------------------------------------------------------------------------
@register(
    "text_term_frequency",
    oracle="""
    SELECT token,
           COUNT(*) AS n_total,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ) t
    WHERE token <> ''
    GROUP BY token
    ORDER BY n_total DESC, token
    LIMIT 50
    """,
    tags=("llm", "text", "explode", "topk"),
)
def text_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus vocabulary with term and document frequencies — the
    tokenize-explode-count pass every BPE/vocab build starts from. The
    explode never materializes per-doc token lists driver-side; partial
    aggregation folds counts map-side before the single token shuffle,
    and ties at the cut are broken by token text."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count("*").alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), F.asc("token"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Intra-document repetition (Gopher-style quality signal)
# ---------------------------------------------------------------------------
@register(
    "text_repetition_ratio",
    oracle="""
    SELECT doc_id,
           len(list_distinct(string_split(text, ' '))) AS n_unique,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS unique_ratio
    FROM documents
    ORDER BY unique_ratio, doc_id
    LIMIT 100
    """,
    tags=("llm", "text", "quality"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 most-repetitive documents by unique-token ratio — the
    repetition filter every pre-training cleanup applies (boilerplate and
    generated spam score low). Pure array expressions per row: no explode,
    no shuffle except the final top-k."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    uniq = F.size(F.array_distinct(toks))
    return (
        d.select(
            "doc_id",
            uniq.alias("n_unique"),
            F.size(toks).alias("n_tokens"),
            (uniq.cast("double") / F.size(toks)).alias("unique_ratio"),
        )
        .orderBy(F.asc("unique_ratio"), F.asc("doc_id"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Cross-source contamination: near-dup text under two different sources
# ---------------------------------------------------------------------------
@register(
    "docs_cross_source_overlap",
    oracle=f"""
    WITH {_SHINGLE_IDX_CTE}, {_JACCARD_TAIL_SQL}
    SELECT j.doc_a, j.doc_b,
           d1.source AS src_a, d2.source AS src_b, j.jac
    FROM jac j
    JOIN documents d1 ON d1.doc_id = j.doc_a
    JOIN documents d2 ON d2.doc_id = j.doc_b
    WHERE j.jac >= {JACCARD_THRESHOLD} AND d1.source <> d2.source
    """,
    tags=("llm", "dedup", "contamination"),
)
def docs_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs whose two documents come from DIFFERENT sources
    — dedup turned into contamination detection (the same text sitting in
    two corpora, e.g. a benchmark leaking into a training mix). Reuses the
    shingle inverted-index pair generator; the tiny (doc_id, source) map
    broadcasts onto both pair sides."""
    d = table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, "doc_id", "text", JACCARD_THRESHOLD)
    src = d.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .filter(F.col("src_a") != F.col("src_b"))
        .select("doc_a", "doc_b", "src_a", "src_b", "jac")
    )


# ---------------------------------------------------------------------------
# Capstone: pretraining-mix pipeline (filter -> dedup -> split -> account)
# ---------------------------------------------------------------------------
@register(
    "docs_pretraining_mix",
    oracle=f"""
    WITH {_SHINGLE_IDX_CTE}, {_JACCARD_TAIL_SQL},
    victims AS (
      SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jac >= {JACCARD_THRESHOLD}
    ),
    kept AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             len(string_split(d.text, ' ')) AS n_tokens,
             len(list_distinct(string_split(d.text, ' '))) AS n_unique
      FROM documents d
      WHERE NOT EXISTS (SELECT 1 FROM victims v WHERE v.doc_id = d.doc_id)
    ),
    filtered AS (
      SELECT doc_id, lang, n_chars
      FROM kept
      WHERE n_tokens >= 10
        AND CAST(n_unique AS DOUBLE) / n_tokens >= 0.3
    ),
    split_assigned AS (
      SELECT lang, n_chars,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT lang, n_chars,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS b
        FROM filtered
      )
    )
    SELECT lang, split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM split_assigned GROUP BY lang, split
    """,
    tags=("llm", "pipeline", "dedup", "sampling"),
)
def docs_pretraining_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation in one lazy plan: near-dup removal
    (keep the lower doc_id of each >=0.5-Jaccard pair, via anti join),
    quality gate (>=10 tokens, unique-token ratio >=0.3), deterministic
    hash-mod split, and the per-(lang, split) mix accounting a training
    run consumes. Composed entirely from this engine's operators — one
    Catalyst plan, no intermediate materialization."""
    d = table(spark, sf_dir, "documents")
    victims = (
        D.ngram_jaccard_pairs(d, "doc_id", "text", JACCARD_THRESHOLD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    toks = F.split(F.col("text"), " ")
    kept = d.join(victims, "doc_id", "left_anti").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
    )
    filtered = kept.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_unique").cast("double") / F.col("n_tokens") >= 0.3)
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return filtered.groupBy("lang", split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Multimodal: resize (binary -> binary) and feature extraction (binary -> vec)
# ---------------------------------------------------------------------------
@register(
    "multimodal_resize",
    oracle="""
    WITH s AS (
      SELECT doc_id, octet_length(encode(text)) AS L,
             octet_length(encode(text)) % 11 + 5 AS w,
             hex(encode(text)) AS hx
      FROM documents
    ),
    g AS (
      SELECT *, GREATEST(1, (L + w - 1) // w) AS h FROM s
    ),
    dims AS (
      SELECT *, (w + 1) // 2 AS ow, (h + 1) // 2 AS oh FROM g
    ),
    op AS (
      SELECT d.doc_id, d.w, d.h, d.L, d.hx, d.ow, d.oh, kk.k2,
             kk.k2 // d.ow AS r2, kk.k2 % d.ow AS c2
      FROM dims d, LATERAL (SELECT unnest(range(0, d.ow * d.oh)) AS k2) kk
    ),
    blk AS (
      SELECT doc_id, ow, oh, k2,
             SUM(CASE WHEN 2 * r2 + (dd // 2) < h AND 2 * c2 + (dd % 2) < w
                 THEN (CASE WHEN (2 * r2 + (dd // 2)) * w
                                 + (2 * c2 + (dd % 2)) < L
                       THEN CAST(('0x' || substring(hx,
                            2 * ((2 * r2 + (dd // 2)) * w
                                 + (2 * c2 + (dd % 2))) + 1, 2)) AS BIGINT)
                       ELSE 0 END)
                 END) AS bsum,
             COUNT(CASE WHEN 2 * r2 + (dd // 2) < h
                             AND 2 * c2 + (dd % 2) < w THEN 1 END) AS bn
      FROM op, LATERAL (SELECT unnest(range(0, 4)) AS dd) t
      GROUP BY doc_id, ow, oh, k2
    ),
    pxo AS (SELECT doc_id, ow, oh, k2, bsum // bn AS p FROM blk)
    SELECT doc_id,
           TRUE AS decode_ok,
           CAST(MIN(ow) AS BIGINT) AS width,
           CAST(MIN(oh) AS BIGINT) AS height,
           CAST(MIN(ow) * MIN(oh) AS BIGINT) AS n_pixels,
           CAST(SUM(p) AS BIGINT) AS pix_sum,
           CAST(MIN(p) AS BIGINT) AS pix_min,
           CAST(MAX(p) AS BIGINT) AS pix_max,
           CAST(MAX(CASE WHEN k2 = 0 THEN p END) AS BIGINT) AS pixel_00,
           CAST(MAX(CASE WHEN k2 = ow * oh - 1 THEN p END) AS BIGINT)
             AS pixel_last
    FROM pxo GROUP BY doc_id
    """,
    tags=("multimodal", "llm", "pandas_udf"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize, wire-to-wire (round 12; the 256-byte-prefix stub is
    deleted): encode each document's bytes into a real grayscale PNG,
    DECODE it (CRC-32 + adler32 verified, all five filters inverted),
    box-downscale 2x (floor-of-mean per up-to-2x2 block), RE-ENCODE the
    thumbnail as a real PNG, then decode THAT wire payload again and emit
    the recovered thumbnail statistics. The oracle recomputes the
    downscale arithmetic from the ground-truth text bytes, so
    hash-equality proves the full encode -> decode -> downscale ->
    re-encode -> decode loop is pixel-exact. All three kernels are
    Arrow-batched and partition-parallel; bytes never reach the driver.

    Reference basis: SURVEY.md §2.12 multimodal family (absent in
    reference — its pipeline is text-only pandas)."""
    docs = table(spark, sf_dir, "documents")
    binary = M.attach_binary(docs, "doc_id", "text")
    thumbs = M.resize_image(M.encode_png_gray(binary))
    decoded = M.decode_image(thumbs)
    return decoded.select(
        "doc_id", "decode_ok", "width", "height", "n_pixels", "pix_sum",
        "pix_min", "pix_max", "pixel_00", "pixel_last",
    )


# shared oracle CTE: the 4x4 block-mean decomposition of the text-derived
# pixel grid (w = L % 11 + 5, h = ceil(L / w), pixel k = byte k, 0-padded)
# — mirrors operators/multimodal.py:_feature_batches bit for bit.
_BLOCK_FEATURES_CTE = """
    s AS (
      SELECT doc_id, octet_length(encode(text)) AS L,
             octet_length(encode(text)) % 11 + 5 AS w,
             hex(encode(text)) AS hx
      FROM documents
    ),
    g AS (
      SELECT *, GREATEST(1, (L + w - 1) // w) AS h FROM s
    ),
    px AS (
      SELECT g.doc_id, kk.k,
             CASE WHEN kk.k < g.L
                  THEN CAST(('0x' || substring(g.hx, 2 * kk.k + 1, 2))
                            AS BIGINT)
                  ELSE 0 END AS p,
             ((kk.k // g.w) * 4 // g.h) * 4
               + ((kk.k % g.w) * 4 // g.w) AS b
      FROM g, LATERAL (SELECT unnest(range(0, g.w * g.h)) AS k) kk
    ),
    f AS (
      SELECT doc_id, b,
             SUM(p) AS bsum,
             COUNT(*) AS bn,
             SUM(SUM(p)) OVER (PARTITION BY doc_id) AS tsum,
             SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS tn
      FROM px GROUP BY doc_id, b
    )
"""


@register(
    "multimodal_features",
    oracle=f"""
    WITH {_BLOCK_FEATURES_CTE}
    SELECT doc_id,
           CAST(b AS INT) AS feature_idx,
           CAST(bsum AS DOUBLE) / (bn * 255.0) AS value,
           CAST(bsum AS BIGINT) AS block_sum,
           CAST(bn AS BIGINT) AS block_n,
           CAST(tsum AS BIGINT) AS total_sum,
           CAST(tn AS BIGINT) AS total_n
    FROM f
    """,
    tags=("multimodal", "llm", "pandas_udf", "embedding"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL feature extraction (round 12; the md5 fake is deleted):
    payload -> real PNG -> Arrow-batched decode -> 4x4 spatial block-mean
    vector in long form — the binary-to-embedding bridge whose output
    feeds the similarity/ANN operators. Each value is ONE double division
    of exact integers (block_sum / (block_n * 255.0)), so both engines
    round identically and a full value-hash oracle applies; the exact
    integer moments ride along and are what pHash quantizes against
    (integer cross-multiply, zero float drift).

    Reference basis: SURVEY.md §2.12 multimodal family (absent in
    reference)."""
    docs = table(spark, sf_dir, "documents")
    binary = M.attach_binary(docs, "doc_id", "text")
    return M.extract_features(M.encode_png_gray(binary))


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction — the pre-training privacy gate)
# ---------------------------------------------------------------------------
_CONTACT_SQL = (
    "lower(c_name) || ' reach user' || CAST(c_custkey AS VARCHAR)"
    " || '@example.com or 555-'"
    " || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
    " || CASE WHEN c_custkey % 3 = 0 THEN ' cc admin@corp.io' ELSE '' END"
    " || ' segment ' || lower(c_mktsegment)"
)
_PII_COUNT_COLS_SQL = ",\n           ".join(
    f"{expr} AS n_{kind}" for kind, expr in P.pii_counts_sql("txt")
)


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH contact AS (SELECT c_custkey, {_CONTACT_SQL} AS txt FROM customer)
    SELECT c_custkey,
           {_PII_COUNT_COLS_SQL},
           md5({P.scrub_sql("txt")}) AS clean_md5
    FROM contact
    """,
    tags=("llm", "text", "pii"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: per-kind match counts + digest of the scrubbed
    text. The testdata carries no real PII, so a deterministic contact blob
    (name + synthesized email/phone) is built IDENTICALLY on both sides
    in-query; the operator under test is functions/pii.py — shared regex
    constants, all-occurrence masking, UDF-free codegen expressions."""
    c = table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    txt = F.concat(
        F.lower(F.col("c_name")),
        F.lit(" reach user"),
        key.cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
        F.when(key % 3 == 0, F.lit(" cc admin@corp.io")).otherwise(F.lit("")),
        F.lit(" segment "),
        F.lower(F.col("c_mktsegment")),
    )
    contact = c.select("c_custkey", txt.alias("txt"))
    return contact.select(
        "c_custkey",
        *[cnt.alias(f"n_{kind}") for kind, cnt in P.pii_counts(F.col("txt"))],
        F.md5(P.scrub(F.col("txt"))).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Embedding similarity: random-hyperplane (sign) LSH top-k
# ---------------------------------------------------------------------------
def _lsh_oracle() -> str:
    from ..functions.vectors import LSH_NBANDS, hyperplane_band_sql

    cb = " UNION ALL ".join(
        f"SELECT vec_id, v, {b} AS band_idx, {hyperplane_band_sql('v', b)} AS band_val FROM e"
        for b in range(LSH_NBANDS)
    )
    qb = " UNION ALL ".join(
        f"SELECT qid, qv, {b} AS band_idx, {hyperplane_band_sql('qv', b)} AS band_val FROM q"
        for b in range(LSH_NBANDS)
    )
    cos = V.cosine_sql("cb.v", "qb.qv")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    cb AS ({cb}),
    qb AS ({qb}),
    scored AS (
      SELECT DISTINCT qb.qid, cb.vec_id, {cos} AS sim
      FROM cb JOIN qb USING (band_idx, band_val)
      WHERE cb.vec_id <> qb.qid
    ),
    ranked AS (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT qid, vec_id, sim, rnk FROM ranked WHERE rnk <= {ANN_K}
    """


@register("sim_ann_lsh", oracle=_lsh_oracle(), tags=("similarity", "llm", "ann"))
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-5: 16 hyperplane sign bits banded 4x4;
    candidates share >=1 band value with the query, then exact cosine rank.
    Complements IVF: no centroid fitting pass, candidate set adapts to
    bucket collisions — the classic trade-off pair for ANN at scale."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP))
    return S.lsh_topk(emb, queries, ANN_K)


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (per-language rates)
# ---------------------------------------------------------------------------
# Per-stratum sampling rates (percent) for corpus rebalancing — the
# downsample-dominant-language step of a pretraining mix. One source of
# truth for both engines.
STRATA_RATE_PCT = {"en": 30, "zh": 40, "de": 60, "fr": 60, "es": 60}
STRATA_DEFAULT_PCT = 50


def _strata_case_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} = '{k}' THEN {v}" for k, v in STRATA_RATE_PCT.items()
    )
    return f"(CASE {whens} ELSE {STRATA_DEFAULT_PCT} END)"


@register(
    "docs_stratified_sample",
    oracle=f"""
    WITH b AS (
      SELECT lang, doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket,
             {_strata_case_sql('lang')} AS rate_pct
      FROM documents
    )
    SELECT lang,
           ANY_VALUE(rate_pct) AS rate_pct,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           MIN(CASE WHEN bucket < rate_pct THEN doc_id END) AS min_sampled_id
    FROM b GROUP BY lang
    """,
    tags=("llm", "sampling", "stratified"),
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language rates applied via
    hash-mod bucketing (a document's in/out decision never changes across
    runs, partitionings, or engines — what `df.sampleBy(rand)` cannot
    promise). Narrow map + one hash-agg; no shuffle beyond the final agg."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    rate = F.lit(STRATA_DEFAULT_PCT)
    for k, v in STRATA_RATE_PCT.items():
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    sampled = F.col("bucket") < F.col("rate_pct")
    return (
        d.select("lang", "doc_id", bucket.alias("bucket"), rate.alias("rate_pct"))
        .groupBy("lang")
        .agg(
            F.any_value("rate_pct").alias("rate_pct"),
            F.count("*").alias("n_total"),
            F.sum(F.when(sampled, 1).otherwise(0)).alias("n_sampled"),
            F.min(F.when(sampled, F.col("doc_id"))).alias("min_sampled_id"),
        )
    )


# ---------------------------------------------------------------------------
# Document chunking: overlapping token windows (sequence-prep for training)
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@register(
    "docs_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents
    ),
    st AS (
      SELECT doc_id, ts,
             CAST(s AS BIGINT) AS start,
             (CAST(s AS BIGINT) - 1) // {CHUNK_STRIDE} AS chunk_idx
      FROM (
        SELECT doc_id, ts,
               unnest(generate_series(1, len(ts), {CHUNK_STRIDE})) AS s
        FROM toks
      )
    )
    SELECT doc_id, chunk_idx, start,
           CAST(len(ts[start : start + {CHUNK_TOKENS - 1}]) AS BIGINT)
             AS n_tokens,
           md5(array_to_string(ts[start : start + {CHUNK_TOKENS - 1}], ' '))
             AS chunk_md5
    FROM st
    """,
    tags=("llm", "text", "chunking"),
)
def docs_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunks (64-token windows, stride 48) —
    the context-window sequence prep step of a training pipeline. Pure
    narrow plan: tokenize -> posexplode the window starts -> slice; no
    shuffle at all, so it streams at scan speed at any corpus size. The
    chunk digest stands in for the chunk text in the compare (ASCII,
    single-space corpus => byte-exact on both engines)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("ts"))
    starts = F.when(
        F.size("ts") >= 1,
        F.sequence(F.lit(1), F.size("ts"), F.lit(CHUNK_STRIDE)),
    ).otherwise(F.array().cast("array<int>"))
    chunked = toks.select(
        "doc_id", "ts", F.posexplode(starts).alias("chunk_idx", "start")
    )
    chunk = F.slice(F.col("ts"), F.col("start"), CHUNK_TOKENS)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# BM25-style corpus search (log-free idf variant, bit-exact across engines)
# ---------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_TERMS = 3  # the query = the corpus's top-3 terms by frequency
BM25_TOP_DOCS = 10

# one source of truth for the scoring arithmetic: identical textual shape on
# both engines so every double op executes in the same order.
#   idf_w = (N - df + 0.5) / (df + 0.5)        [log-free idf weight]
#   tf_c  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
_BM25_SQL = (
    "((CAST(c.n_docs - f.df AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))"
    " * ((CAST(f.tf AS DOUBLE) * 2.2) / (CAST(f.tf AS DOUBLE)"
    " + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE)"
    " / (CAST(c.sum_dl AS DOUBLE) / CAST(c.n_docs AS DOUBLE))))))"
)


@register(
    "text_bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents
    ),
    ex AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
    dl AS (SELECT doc_id, len(ts) AS dl FROM toks),
    corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    term_stats AS (
      SELECT tok, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
      FROM ex GROUP BY tok
    ),
    top_terms AS (
      SELECT tok, df FROM term_stats ORDER BY cnt DESC, tok LIMIT {BM25_N_TERMS}
    ),
    tf AS (
      SELECT e.doc_id, e.tok, t.df, COUNT(*) AS tf
      FROM ex e JOIN top_terms t USING (tok)
      GROUP BY e.doc_id, e.tok, t.df
    ),
    scored AS (
      SELECT f.doc_id, f.tok, {_BM25_SQL} AS score
      FROM tf f
      JOIN dl d ON d.doc_id = f.doc_id
      CROSS JOIN corpus c
    ),
    agg AS (
      SELECT doc_id,
             COUNT(*) AS n_terms,
             array_to_string(list(tok ORDER BY tok), ',') AS terms,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list(score ORDER BY tok)),
               (acc, x) -> acc + x) AS score
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms, terms, score
    FROM agg ORDER BY score DESC, doc_id LIMIT {BM25_TOP_DOCS}
    """,
    tags=("llm", "text", "search", "join"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search over the corpus: BM25-style ranking (k1=1.2, b=0.75)
    of every document against the corpus's own top-3 terms, top-10 docs.
    The idf weight is the log-free rational form (N-df+.5)/(df+.5) so every
    arithmetic step is +-*/ on doubles in a pinned order (ln() is not
    guaranteed bit-identical across engines); per-doc term scores are
    summed by a left fold in term order — deterministic on both sides.
    Plan: one shuffle on token (stats), one on doc_id (tf + rank); the
    3-row term table and 1-row corpus stats broadcast. Top-10 is
    TakeOrderedAndProject — no global sort materializes at scale."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("ts"))
    ex = toks.select("doc_id", F.explode("ts").alias("tok"))
    dl = toks.select("doc_id", F.size("ts").cast("long").alias("dl"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    term_stats = ex.groupBy("tok").agg(
        F.count("*").alias("cnt"), F.countDistinct("doc_id").alias("df")
    )
    top_terms = (
        term_stats.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(BM25_N_TERMS)
        .select("tok", "df")
    )
    tf = (
        ex.join(F.broadcast(top_terms), "tok")
        .groupBy("doc_id", "tok", "df")
        .agg(F.count("*").alias("tf"))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf_w = ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    tf_c = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl))
    )
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", "tok", (idf_w * tf_c).alias("score"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_terms"),
        F.concat_ws(",", F.array_sort(F.collect_list("tok"))).alias("terms"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("tok", "score"))),
            F.lit(0.0),
            lambda acc, s: acc + s["score"],
        ).alias("score"),
    )
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(BM25_TOP_DOCS)


# ---------------------------------------------------------------------------
# Inverted index: postings lists for the head of the vocabulary
# ---------------------------------------------------------------------------
POSTINGS_N_TERMS = 20


@register(
    "text_postings",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents
    ),
    ex AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
    term_stats AS (
      SELECT tok, COUNT(*) AS cnt FROM ex GROUP BY tok
    ),
    top_terms AS (
      SELECT tok, cnt FROM term_stats
      ORDER BY cnt DESC, tok LIMIT {POSTINGS_N_TERMS}
    )
    SELECT e.tok, ANY_VALUE(t.cnt) AS cnt,
           CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS df,
           array_to_string(list_sort(list(DISTINCT e.doc_id)), ',') AS postings
    FROM ex e JOIN top_terms t USING (tok)
    GROUP BY e.tok
    """,
    tags=("llm", "text", "search"),
)
def text_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: sorted distinct-doc postings lists for the 20
    most frequent vocabulary terms (term -> [doc_id...]) — the retrieval
    side of a corpus search system. One shuffle on token; the 20-term head
    broadcasts back onto the exploded stream; postings are collect_set +
    sort, serialized to a comma-joined string (list-valued result columns
    break the driver's pandas canonicalizer — the string carries identical
    information and stays hashable). At 100 TB the same plan writes
    term-bucketed parquet instead of collecting."""
    d = table(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("tok")
    )
    top_terms = (
        ex.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(POSTINGS_N_TERMS)
    )
    return (
        ex.join(F.broadcast(top_terms), "tok")
        .groupBy("tok")
        .agg(
            F.any_value("cnt").alias("cnt"),
            F.countDistinct("doc_id").alias("df"),
            F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias(
                "postings"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bigram language-model fluency score (corpus-trained, self-contained)
# ---------------------------------------------------------------------------
LM_BOTTOM_K = 10


_BIGRAM_SCORES_CTE = f"""toks AS (
      SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents
    ),
    bi AS (
      SELECT doc_id, i AS pos, ts[i] AS a, ts[i + 1] AS b
      FROM (
        SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        FROM toks WHERE len(ts) >= 2
      )
    ),
    cab AS (SELECT a, b, COUNT(*) AS cab FROM bi GROUP BY a, b),
    ca AS (SELECT a, COUNT(*) AS ca FROM bi GROUP BY a),
    probs AS (
      SELECT bi.doc_id, bi.pos,
             CAST(cab.cab AS DOUBLE) / CAST(ca.ca AS DOUBLE) AS p
      FROM bi JOIN cab USING (a, b) JOIN ca USING (a)
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY pos)),
               (acc, x) -> acc + x) AS psum
      FROM probs GROUP BY doc_id
    ),
    scores AS (
      SELECT doc_id, n_bigrams,
             psum / CAST(n_bigrams AS DOUBLE) AS lm_score
      FROM agg
    )"""


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH {_BIGRAM_SCORES_CTE}
    SELECT doc_id, n_bigrams, lm_score
    FROM scores ORDER BY lm_score ASC, doc_id LIMIT {LM_BOTTOM_K}
    """,
    tags=("llm", "text", "quality", "join"),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical fluency signal: train a token-bigram model ON the corpus
    itself (P(b|a) = C(a,b)/C(a,·)) and score each document by its mean
    transition probability — the 10 least-fluent documents surface as
    quality-filter candidates (the perplexity-style signal of a data
    pipeline, log-free so every double op is engine-pinned: probabilities
    are single divisions, the per-doc sum is a left fold in position order,
    the mean one final division).

    Plan: bigram extraction is a narrow transform+posexplode; model
    training is two hash-aggs on (a,b)/(a); scoring re-joins the stream to
    the model (shuffle on token keys — at 100 TB the model tables are the
    small sides and broadcast). Bottom-k is TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents")
    return (
        bigram_doc_scores(d)
        .orderBy(F.asc("lm_score"), F.asc("doc_id"))
        .limit(LM_BOTTOM_K)
    )


def bigram_doc_scores(d: DataFrame) -> DataFrame:
    """Per-document bigram-LM fluency scores (doc_id, n_bigrams, lm_score)
    for every doc with >= 1 bigram — the trained-on-the-corpus model and
    the position-ordered fold shared by `text_bigram_lm_score` (bottom-k
    view) and `docs_ccnet_buckets` (per-lang tertile bucketing)."""
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("ts"))
    pairs = F.when(
        F.size("ts") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - 1),
            lambda i: F.struct(
                F.element_at(F.col("ts"), i.cast("int")).alias("a"),
                F.element_at(F.col("ts"), (i + 1).cast("int")).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    bi = toks.select(
        "doc_id", F.posexplode(pairs).alias("pos", "pr")
    ).select("doc_id", "pos", F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
    cab = bi.groupBy("a", "b").agg(F.count("*").alias("cab"))
    ca = bi.groupBy("a").agg(F.count("*").alias("ca"))
    probs = (
        bi.join(cab, ["a", "b"])
        .join(ca, "a")
        .select(
            "doc_id",
            "pos",
            (F.col("cab").cast("double") / F.col("ca").cast("double")).alias("p"),
        )
    )
    agg = probs.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "p"))),
            F.lit(0.0),
            lambda acc, s: acc + s["p"],
        ).alias("psum"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        (F.col("psum") / F.col("n_bigrams").cast("double")).alias("lm_score"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (greedy bin-packing into fixed token budgets)
# ---------------------------------------------------------------------------
PACK_BUDGET = 256


@register(
    "docs_pack_sequences",
    # Greedy packing IS oracle-expressible: the per-worker fold is
    # deterministic (doc-id order), so a recursive CTE replays it row by
    # row — worker assignment and bin arithmetic mirror
    # operators/packing.py (md5-hash worker, bin_id = worker * 2^32 + seq).
    oracle=f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id,
             len({{tokens}}) AS n_tokens,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 64 AS worker
      FROM documents
    ),
    seqd AS (
      SELECT doc_id, n_tokens, worker,
             row_number() OVER (PARTITION BY worker ORDER BY doc_id) AS rn
      FROM docs
    ),
    packed AS (
      SELECT doc_id, n_tokens, worker, rn,
             CAST(0 AS BIGINT) AS bin_seq,
             n_tokens AS used
      FROM seqd WHERE rn = 1
      UNION ALL
      SELECT s.doc_id, s.n_tokens, s.worker, s.rn,
             CASE WHEN p.used > 0 AND p.used + s.n_tokens > {{budget}}
                  THEN p.bin_seq + 1 ELSE p.bin_seq END,
             CASE WHEN p.used > 0 AND p.used + s.n_tokens > {{budget}}
                  THEN s.n_tokens ELSE p.used + s.n_tokens END
      FROM packed p JOIN seqd s ON s.worker = p.worker AND s.rn = p.rn + 1
    )
    SELECT worker * 4294967296 + bin_seq AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
           MIN(doc_id) AS first_doc
    FROM packed GROUP BY 1
    """.format(tokens=T.tokens_sql("text"), budget=PACK_BUDGET),
    tags=("llm", "packing", "pandas_udf"),
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: documents bin-packed into 256-token budgets
    (partition-local greedy fill in doc-id order; bins never cross the 64
    hash-assigned workers). Emits per-bin (n_docs, tot_tokens, fill) —
    the padding-waste accounting of a training-batch builder. The DuckDB
    oracle replays the same deterministic fold with a recursive CTE, so
    this stateful Arrow kernel gets a full hash-matched gate, not just a
    rows-only check."""
    from ..operators.packing import pack_greedy

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(T.tokens(F.col("text"))).alias("n_tokens"),
    )
    packed = pack_greedy(d, "doc_id", "n_tokens", PACK_BUDGET)
    return packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("tot_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (top-3 terms per document)
# ---------------------------------------------------------------------------
KEYWORDS_PER_DOC = 3


@register(
    "text_keyword_extract",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents
    ),
    ex AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
    corpus AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY tok),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY doc_id, tok),
    scored AS (
      SELECT t.doc_id, t.tok,
             CAST(t.tf AS DOUBLE)
               * (CAST(c.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)) AS score
      FROM tf t JOIN df d USING (tok) CROSS JOIN corpus c
    ),
    ranked AS (
      SELECT doc_id, tok, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, tok) AS rnk
      FROM scored
    )
    SELECT doc_id, tok, score, rnk
    FROM ranked WHERE rnk <= {KEYWORDS_PER_DOC}
    """,
    tags=("llm", "text", "search", "window"),
)
def text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf-idf, with the
    log-free idf ratio N/df (pinned double ops — see text_bm25_search).
    The doc-tagging primitive of corpus curation (topic routing, mix
    labeling). Plan: tf and df aggregate the same exploded stream; the
    rank<=3 predicate pushes into the window as WindowGroupLimit, so each
    doc_id partition keeps only 3 rows before the final filter."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("ts"))
    ex = toks.select("doc_id", F.explode("ts").alias("tok"))
    corpus = d.agg(F.count("*").alias("n_docs"))
    df_t = ex.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    tf = ex.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    scored = (
        tf.join(df_t, "tok")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KEYWORDS_PER_DOC)
        .select("doc_id", "tok", "score", "rnk")
    )


# ---------------------------------------------------------------------------
# Embedding cluster quality: per-label cohesion against the seed vector
# ---------------------------------------------------------------------------
_CQ_COS = V.cosine_sql("e.v", "sv.svec")


@register(
    "sim_cluster_quality",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    seeds AS (SELECT label, MIN(vec_id) AS seed_id FROM e GROUP BY label),
    sv AS (
      SELECT s.label, s.seed_id, e.v AS svec
      FROM seeds s JOIN e ON e.vec_id = s.seed_id
    ),
    per AS (
      SELECT e.label, sv.seed_id, e.vec_id, {_CQ_COS} AS cs
      FROM e JOIN sv USING (label)
      WHERE e.vec_id <> sv.seed_id
    ),
    agg AS (
      SELECT label, seed_id, COUNT(*) AS n_members,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list(cs ORDER BY vec_id)),
               (a, x) -> a + x) AS csum,
             MIN(cs) AS min_cos
      FROM per GROUP BY label, seed_id
    )
    SELECT label, seed_id, n_members,
           csum / CAST(n_members AS DOUBLE) AS mean_cos,
           min_cos
    FROM agg
    """,
    tags=("similarity", "llm", "vector", "agg"),
)
def sim_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-cohesion report: for each embedding label, the mean and
    minimum cosine of members to the cluster's seed vector (lowest vec_id)
    — the health check run after any clustering/IVF build to spot diffuse
    or contaminated clusters. O(n) per cluster (no pairwise blow-up); the
    10-row seed-vector table broadcasts; the per-label mean is a fold in
    vec_id order (bit-exact, see text_bm25_search)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = e.groupBy("label").agg(F.min("vec_id").alias("seed_id"))
    sv = seeds.join(
        e.select(F.col("vec_id").alias("seed_id"), F.col("v").alias("svec")),
        "seed_id",
    )
    members = e.join(F.broadcast(sv), "label").filter(
        F.col("vec_id") != F.col("seed_id")
    )
    per = members.select(
        "label", "seed_id", "vec_id",
        V.cosine(F.col("v"), F.col("svec")).alias("cs"),
    )
    agg = per.groupBy("label", "seed_id").agg(
        F.count("*").alias("n_members"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("vec_id", "cs"))),
            F.lit(0.0),
            lambda acc, s: acc + s["cs"],
        ).alias("csum"),
        F.min("cs").alias("min_cos"),
    )
    return agg.select(
        "label", "seed_id", "n_members",
        (F.col("csum") / F.col("n_members").cast("double")).alias("mean_cos"),
        "min_cos",
    )


# ---------------------------------------------------------------------------
# LSH recall evaluation: how much of the exact near-dup set the banded
# candidate generation retains, per Jaccard threshold
# ---------------------------------------------------------------------------
RECALL_THRESHOLDS = [0.5, 0.6, 0.7, 0.8]


def _lsh_recall_oracle() -> str:
    # reuse the minhash oracle's candidate CTE chain verbatim
    mh = _minhash_oracle()
    cand_part = mh.split("SELECT j.doc_a")[0].rstrip().rstrip(",")
    ths = ", ".join(repr(t) for t in RECALL_THRESHOLDS)
    return f"""
    {cand_part},
    exact AS (
      SELECT doc_a, doc_b, jac FROM jac WHERE jac >= {RECALL_THRESHOLDS[0]}
    ),
    found AS (
      SELECT e.jac, (c.doc_a IS NOT NULL) AS hit
      FROM exact e LEFT JOIN cand c USING (doc_a, doc_b)
    ),
    th AS (SELECT unnest([{ths}]) AS threshold)
    SELECT th.threshold,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN f.hit THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
           CAST(SUM(CASE WHEN f.hit THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM found f JOIN th ON f.jac >= th.threshold
    GROUP BY th.threshold
    """


@register(
    "dedup_lsh_recall",
    oracle=_lsh_recall_oracle(),
    tags=("dedup", "llm", "lsh", "evaluation"),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the approximate dedup path: recall of the 8x2
    banded MinHash candidate set against the EXACT >=threshold Jaccard
    pairs, per threshold — the measurement that justifies running LSH
    instead of the quadratic exact join at 100 TB (recall rises with the
    threshold: higher-similarity pairs collide in more bands)."""
    d = table(spark, sf_dir, "documents")
    exact = D.ngram_jaccard_pairs(d, "doc_id", "text", RECALL_THRESHOLDS[0])
    sig = D.minhash_signatures(d, "doc_id", "text")
    cands = D.lsh_candidate_pairs(sig).withColumn("hit", F.lit(True))
    found = exact.join(cands, ["doc_a", "doc_b"], "left").select(
        "jac", F.coalesce(F.col("hit"), F.lit(False)).alias("hit")
    )
    th = F.explode(
        F.array(*[F.lit(t) for t in RECALL_THRESHOLDS])
    ).alias("threshold")
    return (
        found.select("jac", "hit")
        .crossJoin(found.sparkSession.range(1).select(th).select("threshold"))
        .filter(F.col("jac") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_found"),
            (
                F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("double")
                / F.count("*").cast("double")
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance <=1) entity matching — deletion-neighborhood join
# ---------------------------------------------------------------------------
@register(
    "fuzzy_match_customers",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.c_name AS text_a, b.c_name AS text_b,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM customer a, customer b
    WHERE a.c_custkey < b.c_custkey
      AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    tags=("fuzzy", "dedup", "join"),
)
def fuzzy_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-name pairs within Levenshtein distance 1 via the SymSpell
    deletion-neighborhood equi-join (operators/fuzzy.py): linear ~len
    variant expansion + one shuffled equi-join vs the oracle's O(n^2)
    cross join with a per-pair distance call. Prefix blocking would
    degenerate here (every name shares the "Customer#" prefix); deletion
    variants stay selective."""
    from ..operators.fuzzy import fuzzy_selfjoin_dist1

    return fuzzy_selfjoin_dist1(
        table(spark, sf_dir, "customer"), "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Heavy hitters — Misra-Gries bounded-memory sketch + exact verify
# ---------------------------------------------------------------------------
HH_K = 100  # threshold denominator: report tokens with freq > n/K


@register(
    "text_heavy_hitters",
    oracle=f"""
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
               FROM documents),
         n AS (SELECT COUNT(*) AS total FROM t)
    SELECT token, COUNT(*) AS freq
    FROM t, n
    GROUP BY token, n.total
    HAVING COUNT(*) * {HH_K} > n.total
    """,
    tags=("llm", "text", "sketch"),
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (tokens with freq > n/{K}) through the
    Misra-Gries mergeable sketch (operators/heavyhitters.py): pass 1 keeps
    <= K counters per partition (bounded memory no matter how many
    distinct n-grams exist), pass 2 exactly recounts only the surviving
    candidates via a broadcast semi join — the oracle's full group-by and
    the sketch path must agree exactly, which is the sketch's no-false-
    negative guarantee made testable."""
    d = table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    from ..operators.heavyhitters import heavy_hitters_exact

    return heavy_hitters_exact(d, "token", HH_K)


# ---------------------------------------------------------------------------
# K-means training (IVF index build) — iterative, fixed-point, oracle-checked
# ---------------------------------------------------------------------------
KMEANS_ITERS = 3


def _kmeans_oracle(n_iter: int) -> str:
    """DuckDB oracle replaying `n_iter` fixed-point Lloyd's iterations
    bit-exactly (the iterations are UNROLLED as CTE stages — a pure
    function of the iteration count, no recursion needed). Mirrors
    operators/kmeans.py:kmeans_fit_fx: same 2^20 quantization (double
    round, half away from zero — verified identical in both engines),
    same int64 distance sums (order-independent), same
    floor(double-division) centroid update, same lowest-cluster-index
    tie-break, same empty-cluster carry-over (LEFT JOIN + COALESCE)."""
    from ..operators.kmeans import FX_SCALE

    parts = [
        f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            v -> CAST(round(v * {float(FX_SCALE)}) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    seeds AS (SELECT MIN(vec_id) AS vec_id FROM embeddings GROUP BY label),
    qx AS (
      SELECT vec_id, i AS dim, qv[i] AS val
      FROM (SELECT vec_id, qv, unnest(generate_series(1, len(qv))) AS i
            FROM q)
    ),
    cx0 AS (
      SELECT cluster, i AS dim, qv[i] AS val
      FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY q.vec_id) - 1 AS INTEGER)
                     AS cluster,
                   q.qv, unnest(generate_series(1, len(q.qv))) AS i
            FROM q JOIN seeds s ON q.vec_id = s.vec_id)
    )"""
    ]
    for it in range(n_iter + 1):
        parts.append(f""",
    a{it} AS (
      SELECT vec_id, cluster, dist2 FROM (
        SELECT x.vec_id, c.cluster,
               CAST(SUM((x.val - c.val) * (x.val - c.val)) AS BIGINT)
                 AS dist2,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY SUM((x.val - c.val) * (x.val - c.val)), c.cluster
               ) AS rn
        FROM qx x JOIN cx{it} c USING (dim)
        GROUP BY x.vec_id, c.cluster
      ) WHERE rn = 1
    )""")
        if it < n_iter:
            parts.append(f""",
    cx{it + 1} AS (
      SELECT c.cluster, c.dim, COALESCE(m.mval, c.val) AS val
      FROM cx{it} c LEFT JOIN (
        SELECT a.cluster, x.dim,
               CAST(FLOOR(CAST(SUM(x.val) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS mval
        FROM a{it} a JOIN qx x USING (vec_id)
        GROUP BY a.cluster, x.dim
      ) m ON c.cluster = m.cluster AND c.dim = m.dim
    )""")
    parts.append(f"""
    SELECT CAST(cluster AS BIGINT) AS cluster,
           COUNT(*) AS n_vecs,
           CAST(SUM(dist2) AS BIGINT) AS wcss
    FROM a{n_iter} GROUP BY cluster
    """)
    return "".join(parts)


@register(
    "sim_kmeans_train",
    oracle=_kmeans_oracle(KMEANS_ITERS),
    tags=("similarity", "llm", "ann", "iterative"),
)
def sim_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: {KMEANS_ITERS} Lloyd's iterations
    of k=10 k-means over the embedding corpus in int64 FIXED-POINT
    (operators/kmeans.py:kmeans_fit_fx — centroids as one constant-folded
    literal, assignment pure codegen, update one hash-agg; only the 10x64
    centroid matrix touches the driver). Deterministically seeded with
    the lowest vec_id of each label (a stratified sample standing in for
    k-means++). Fixed-point makes the ITERATIVE algorithm bit-exact on
    any engine/partitioning, so the DuckDB oracle replays all iterations
    as unrolled CTE stages and the driver hash-checks (cluster, n_vecs,
    wcss) — the same determinism trick as graph_pagerank_lineitem. The
    float Lloyd's (kmeans_fit) remains for callers that want it; its
    invariants are unit-tested in tests/test_operators.py."""
    from ..operators.kmeans import kmeans_fit_fx, quantize_fx

    emb = table(spark, sf_dir, "embeddings")
    # one aggregation fetches the seed vectors: min_by picks each label's
    # lowest-vec_id embedding map-side (the former groupBy + semi-join +
    # orderBy chain cost two extra jobs for the same k rows)
    init = [
        list(r.q)
        for r in emb.groupBy("label")
        .agg(
            F.min_by(quantize_fx(F.col("embedding")), F.col("vec_id")).alias("q"),
            F.min("vec_id").alias("vec_id"),
        )
        .orderBy("vec_id")
        .select("q")
        .collect()
    ]
    _, assigned = kmeans_fit_fx(emb, "embedding", init, n_iter=KMEANS_ITERS)
    return assigned.groupBy(F.col("cluster").cast("long").alias("cluster")).agg(
        F.count("*").alias("n_vecs"),
        F.sum("dist2").alias("wcss"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination — n-gram overlap against a held-out probe set
# ---------------------------------------------------------------------------
DECONTAM_PROBE_MOD = 50  # doc_id % MOD == 0 plays the held-out benchmark


@register(
    "docs_decontaminate",
    oracle=f"""
    WITH {_SHINGLE_IDX_CTE},
    probe AS (SELECT DISTINCT sh FROM idx WHERE did % {DECONTAM_PROBE_MOD} = 0),
    corpus AS (SELECT * FROM idx WHERE did % {DECONTAM_PROBE_MOD} <> 0),
    hits AS (SELECT DISTINCT c.did FROM corpus c JOIN probe p ON c.sh = p.sh)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h.did IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.did
    WHERE d.doc_id % {DECONTAM_PROBE_MOD} <> 0
    GROUP BY d.source
    """,
    tags=("llm", "dedup", "contamination"),
)
def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, the n-gram-overlap form used for LLM
    eval hygiene: every held-out probe shingle (here docs with
    doc_id % {MOD} == 0 act as the benchmark) is collected into a small
    DISTINCT set and BROADCAST; corpus docs sharing any 3-token shingle
    are flagged. At 100 TB the corpus side never shuffles — the probe
    set is benchmark-sized (thousands of docs), so the flagging is a
    map-side broadcast semi join over the exploded shingle index."""
    d = table(spark, sf_dir, "documents")
    idx = D.shingle_index(d, "doc_id", "text")
    probe = (
        idx.filter(F.col("did") % DECONTAM_PROBE_MOD == 0)
        .select("sh")
        .distinct()
    )
    corpus = idx.filter(F.col("did") % DECONTAM_PROBE_MOD != 0)
    hits = (
        corpus.join(F.broadcast(probe), "sh", "left_semi")
        .select("did")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        d.filter(F.col("doc_id") % DECONTAM_PROBE_MOD != 0)
        .join(hits, d.doc_id == hits.did, "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard (AllPairs) — same answer, smaller join
# ---------------------------------------------------------------------------
@register(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH {_SHINGLE_IDX_CTE}, {_JACCARD_TAIL_SQL}
    SELECT doc_a, doc_b, jac FROM jac WHERE jac >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "llm", "join", "prefix-filter"),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard pairs >= 0.5 via AllPairs PREFIX FILTERING
    (operators/dedup.py:prefix_filtered_candidates): only each doc's
    n - ceil(t*n) + 1 rarest shingles enter the candidate join, provably
    losing no qualifying pair. Same oracle as dedup_ngram_jaccard — the
    optimized path must return the identical answer; at 100 TB the
    candidate join shrinks by the prefix ratio AND skips the most common
    (hottest, most skewed) shingles entirely."""
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_THRESHOLD
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization + recall self-evaluation
# ---------------------------------------------------------------------------
@register(
    "sim_quantization_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS m FROM e),
    qz AS (SELECT vec_id,
                  list_transform(v, x -> floor(127.0 * x / m)) AS qv
           FROM s WHERE m > 0),
    q AS (SELECT vec_id AS qid, qv AS qq FROM qz
          WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    qscored AS (
      SELECT q.qid, z.vec_id, list_dot_product(z.qv, q.qq) AS qdot
      FROM qz z, q WHERE z.vec_id <> q.qid
    ),
    qtop AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY qdot DESC, vec_id) AS r
        FROM qscored) WHERE r <= {ANN_K}
    ),
    ex AS (SELECT vec_id, v,
                  sqrt(list_dot_product(v, v)) AS nv FROM e),
    eq AS (SELECT vec_id AS qid, v AS qv, nv AS nq FROM ex
           WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    escored AS (
      SELECT eq.qid, ex.vec_id,
             (list_dot_product(ex.v, eq.qv) / (ex.nv * eq.nq)) AS sim
      FROM ex, eq WHERE ex.vec_id <> eq.qid
    ),
    etop AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS r
        FROM escored) WHERE r <= {ANN_K}
    )
    SELECT x.qid, COUNT(y.vec_id) AS n_hits
    FROM etop x LEFT JOIN qtop y
      ON x.qid = y.qid AND x.vec_id = y.vec_id
    GROUP BY x.qid
    """,
    tags=("similarity", "llm", "quantization"),
)
def sim_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization self-evaluation: vectors compress 4x
    (per-vector max-abs scale, values in [-127, 127]) and top-5 search
    runs on integer dot products; per query, how many of the EXACT
    cosine top-5 does the quantized index recall? Quantized values are
    integer-valued doubles, so the dot-product fold is EXACT in both
    engines and the whole evaluation hash-matches bit-for-bit — the
    accuracy/cost trade of a compressed ANN tier, measured inside the
    engine."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    s = emb.select(
        "vec_id", v.alias("v"),
    ).select(
        "vec_id", "v",
        F.array_max(F.transform("v", F.abs)).alias("m"),
    )
    qz = s.filter(F.col("m") > 0).select(
        "vec_id",
        F.transform(
            "v", lambda x: F.floor(F.lit(127.0) * x / F.col("m")).cast("double")
        ).alias("qv"),
    )
    q = qz.filter((F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP)).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qq")
    )
    qscored = qz.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("qid")
    ).select("qid", "vec_id", V.dot(F.col("qv"), F.col("qq")).alias("qdot"))
    wq = Window.partitionBy("qid").orderBy(F.desc("qdot"), F.asc("vec_id"))
    qtop = (
        qscored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= ANN_K)
        .select("qid", "vec_id")
    )
    queries = emb.filter((F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP))
    etop = S.brute_force_topk(emb, queries, ANN_K).select("qid", "vec_id")
    qt = qtop.select(
        F.col("qid").alias("hit_qid"), F.col("vec_id").alias("hit_id")
    )
    return (
        etop.join(
            qt,
            (etop.qid == qt.hit_qid) & (etop.vec_id == qt.hit_id),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("hit_id").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# Repeated-span detection (exact substring duplication, CCNet/dedup-style)
# ---------------------------------------------------------------------------
SPAN_N = 8  # tokens per exact span


@register(
    "docs_repeated_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents),
    sh AS (SELECT doc_id, {T.shingles_sql("text", SPAN_N)} AS shs FROM toks),
    idx AS (SELECT doc_id AS did, unnest(shs) AS sh FROM sh),
    shared AS (SELECT sh FROM idx GROUP BY sh HAVING COUNT(*) >= 2),
    per_doc AS (
      SELECT i.did, COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN s.sh IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_repeated
      FROM idx i LEFT JOIN shared s ON i.sh = s.sh
      GROUP BY i.did
    )
    SELECT did AS doc_id, n_spans, n_repeated,
           CAST(n_repeated AS DOUBLE) / n_spans AS dup_ratio
    FROM per_doc WHERE n_repeated > 0
    """,
    tags=("llm", "dedup", "substring"),
)
def docs_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection: every 8-token span (stride 1,
    distinct per doc) is indexed; spans appearing in >= 2 documents mark
    their documents with a duplicated-content ratio — the span-level
    signal behind 'dedup exact substrings in training data' (near-dup
    shingle pairs find similar DOCUMENTS; this finds shared PASSAGES in
    otherwise-different documents). Plan: SINGLE PASS over the exploded
    span index — a `count(*) over (partition by sh)` window annotates each
    span occurrence with its corpus frequency in one shuffle, then one
    doc group-by; the former build-shared-set-then-join shape scanned and
    tokenized the corpus twice and shuffled it three times (measured
    2.4s -> 1.1s at sf0.1). At 100 TB the span index is the same
    inverted-index shape as the shingle dedup path."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("did"), T.tokens(F.col("text")).alias("__toks")
    )
    idx = base.select(
        "did",
        F.explode(T.shingles_from_tokens(F.col("__toks"), SPAN_N)).alias("sh"),
    )
    per_doc = (
        idx.withColumn("c", F.count("*").over(Window.partitionBy("sh")))
        .groupBy("did")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias("n_repeated"),
        )
    )
    return per_doc.filter(F.col("n_repeated") > 0).select(
        F.col("did").alias("doc_id"),
        "n_spans",
        "n_repeated",
        (F.col("n_repeated").cast("double") / F.col("n_spans")).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining: nearest items OUTSIDE the query's own IVF cluster
# ---------------------------------------------------------------------------
def _hard_negatives_oracle() -> str:
    cos_vc = V.cosine_sql("e.v", "c.cv")
    cos_qc = V.cosine_sql("q.qv", "c.cv")
    cos_qv = V.cosine_sql("a.v", "p.qv")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {IVF_CENTROID_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    assigned AS (
      SELECT vec_id, v, cid AS cluster_id FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_vc} DESC, c.cid) AS r
        FROM e, cents c
      ) WHERE r = 1
    ),
    probes AS (
      SELECT qid, qv, cid AS cluster_id FROM (
        SELECT q.qid, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY {cos_qc} DESC, c.cid) AS r
        FROM q, cents c
      ) WHERE r > 1 AND r <= 1 + {IVF_NPROBE}
    ),
    scored AS (
      SELECT DISTINCT p.qid, a.vec_id, {cos_qv} AS sim
      FROM assigned a JOIN probes p USING (cluster_id)
      WHERE a.vec_id <> p.qid
    ),
    ranked AS (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT qid, vec_id, sim, rnk FROM ranked WHERE rnk <= {ANN_K}
    """


@register(
    "sim_hard_negatives",
    oracle=_hard_negatives_oracle(),
    tags=("similarity", "llm", "ann", "training"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-5 most similar items drawn ONLY from its adjacent IVF
    clusters (centroid ranks 2-4) — near the query but provably outside
    its own bucket, which is exactly the negative a contrastive loss
    learns most from (random negatives are too easy, same-bucket items
    risk being unlabeled positives). Identical machinery and cost profile
    to sim_ann_ivf: broadcast centroids, candidates only from probed
    clusters."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP))
    cents = emb.filter((F.col("vec_id") % IVF_CENTROID_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP))
    return S.ivf_topk(
        emb, queries, cents, ANN_K, IVF_NPROBE, skip_nearest=1
    )


# ---------------------------------------------------------------------------
# Quantized-shortlist + exact re-rank (the production two-tier ANN pattern)
# ---------------------------------------------------------------------------
RERANK_SHORTLIST = 20


@register(
    "sim_rerank_quantized",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS m FROM e),
    qz AS (SELECT vec_id,
                  list_transform(v, x -> floor(127.0 * x / m)) AS qv
           FROM s WHERE m > 0),
    q AS (SELECT vec_id AS qid, qv AS qq FROM qz
          WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    shortlist AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, z.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY list_dot_product(z.qv, q.qq) DESC,
                                           z.vec_id) AS r
        FROM qz z, q WHERE z.vec_id <> q.qid
      ) WHERE r <= {RERANK_SHORTLIST}
    ),
    ex AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e),
    eq AS (SELECT vec_id AS qid, v AS qv, nv AS nq FROM ex
           WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    rescored AS (
      SELECT sl.qid, sl.vec_id,
             (list_dot_product(ex.v, eq.qv) / (ex.nv * eq.nq)) AS sim
      FROM shortlist sl
      JOIN ex ON ex.vec_id = sl.vec_id
      JOIN eq ON eq.qid = sl.qid
    )
    SELECT qid, vec_id, sim, rnk FROM (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, vec_id) AS rnk
      FROM rescored
    ) WHERE rnk <= {ANN_K}
    """,
    tags=("similarity", "llm", "quantization", "ann"),
)
def sim_rerank_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-tier ANN pattern: a CHEAP int8 integer-dot scan
    builds a 20-item shortlist per query (4x smaller vectors, SIMD-friendly
    integer math — the tier that scans billions), then the exact float
    cosine re-ranks only the shortlist to the final top-5. Quantized
    values are integer-valued doubles so tier 1 is bit-exact across
    engines; tier 2 touches 20 rows per query. Complements
    sim_quantization_recall (which MEASURES tier-1 loss; this query is
    the operator that exploits it)."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    s = emb.select("vec_id", v.alias("v")).select(
        "vec_id", "v", F.array_max(F.transform("v", F.abs)).alias("m")
    )
    qz = s.filter(F.col("m") > 0).select(
        "vec_id",
        "v",
        F.transform(
            "v", lambda x: F.floor(F.lit(127.0) * x / F.col("m")).cast("double")
        ).alias("qv"),
    )
    q = qz.filter((F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP)).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qq")
    )
    qscored = (
        qz.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", V.dot(F.col("qv"), F.col("qq")).alias("qdot"))
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("qdot"), F.asc("vec_id"))
    shortlist = (
        qscored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= RERANK_SHORTLIST)
        .select("qid", "vec_id")
    )
    ex = s.select("vec_id", "v", V.norm(F.col("v")).alias("nv"))
    eq = ex.filter((F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv_exact"),
        F.col("nv").alias("nq"),
    )
    rescored = (
        shortlist.join(ex, "vec_id")
        .join(F.broadcast(eq), "qid")
        .select(
            "qid",
            "vec_id",
            (
                V.dot(F.col("v"), F.col("qv_exact"))
                / (F.col("nv") * F.col("nq"))
            ).alias("sim"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        rescored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= ANN_K)
        .select("qid", "vec_id", "sim", "rnk")
    )


# ---------------------------------------------------------------------------
# Dedup savings report: per-cluster keeper + tokens reclaimed
# ---------------------------------------------------------------------------
def _dedup_savings_oracle() -> str:
    return f"""
    WITH RECURSIVE {_SHINGLE_IDX_CTE}, {_JACCARD_TAIL_SQL},
    pairs_t AS (SELECT doc_a, doc_b FROM jac WHERE jac >= {JACCARD_THRESHOLD}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs_t
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs_t
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (
      SELECT src AS node, MIN(node) AS component,
             (src = MIN(node)) AS is_keeper
      FROM reach GROUP BY src
    ),
    tk AS (SELECT doc_id, len({T.tokens_sql("text")}) AS n_tok FROM documents)
    SELECT c.component AS keeper_id,
           COUNT(*) AS n_docs,
           CAST(SUM(t.n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN NOT c.is_keeper THEN t.n_tok ELSE 0 END)
                AS BIGINT) AS tokens_saved
    FROM comp c JOIN tk t ON t.doc_id = c.node
    GROUP BY c.component
    """


@register(
    "docs_dedup_savings",
    oracle=_dedup_savings_oracle(),
    tags=("dedup", "llm", "graph", "accounting"),
)
def docs_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number a dedup run is judged by: per near-dup cluster, the
    canonical keeper (minimum doc id of its connected component), cluster
    size, and the token count RECLAIMED by dropping the non-keepers — the
    before/after budget line a pretraining-mix owner reads. Composition of
    the engine's own operators: prefix-filtered Jaccard pairs -> iterative
    connected components -> one join to per-doc token counts (narrow; the
    components output is cluster-member-sized, far smaller than the
    corpus)."""
    from ..operators.components import dedup_clusters

    d = table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")
    clusters = dedup_clusters(pairs, "doc_a", "doc_b")
    tk = d.select("doc_id", F.size(T.tokens(F.col("text"))).alias("n_tok"))
    return (
        clusters.join(tk, clusters.node == tk.doc_id)
        .groupBy(F.col("component").alias("keeper_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(F.when(~F.col("is_keeper"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_saved"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal dedup: binary-content digest groups (JVM-side, no Python)
# ---------------------------------------------------------------------------
@register(
    "multimodal_dedup",
    oracle="""
    SELECT md5(text) AS content_md5,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies,
           CAST((COUNT(*) - 1) * MIN(octet_length(encode(text))) AS BIGINT)
             AS bytes_reclaimed
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    """,
    tags=("multimodal", "dedup", "llm"),
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY payload column: digest the bytes
    JVM-side (F.md5 on BinaryType — the bytes never reach Python, unlike
    the decode path which legitimately needs mapInPandas), group by
    digest, and report keeper + reclaimable bytes per duplicate group —
    the storage-dedup step a multimodal lake runs before any decode.
    Payloads with equal digests have equal length, so bytes_reclaimed =
    (copies - 1) * payload_len exactly. One hash shuffle on the 32-char
    digest regardless of payload size (the 100 TB property: shuffle keys
    are digests, never bytes)."""
    from ..operators import multimodal as M

    docs = table(spark, sf_dir, "documents")
    binary = M.attach_binary(docs, "doc_id", "text")
    return (
        binary.select(
            "doc_id",
            F.md5(F.col("payload")).alias("content_md5"),
            F.octet_length(F.col("payload")).cast("long").alias("byte_len"),
        )
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
            ((F.count("*") - 1) * F.min("byte_len"))
            .cast("long")
            .alias("bytes_reclaimed"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Weighted simplified silhouette of the trained k-means index
# ---------------------------------------------------------------------------
def _silhouette_oracle(n_iter: int) -> str:
    """Reuses the unrolled Lloyd's CTE chain verbatim (same constants,
    same tie-breaks) and replaces the final WCSS rollup with a
    second-nearest-centroid stage: rn<=2 over (dist2, cluster) gives each
    vector its own-cluster distance a2 (rn=1) and nearest-other b2
    (rn=2)."""
    base = _kmeans_oracle(n_iter)
    marker = "\n    SELECT CAST(cluster AS BIGINT) AS cluster,"
    head = base[: base.index(marker)]
    return (
        head
        + f""",
    pair AS (
      SELECT vec_id, cluster, dist2, rn FROM (
        SELECT x.vec_id, c.cluster,
               CAST(SUM((x.val - c.val) * (x.val - c.val)) AS BIGINT)
                 AS dist2,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY SUM((x.val - c.val) * (x.val - c.val)), c.cluster
               ) AS rn
        FROM qx x JOIN cx{n_iter} c USING (dim)
        GROUP BY x.vec_id, c.cluster
      ) WHERE rn <= 2
    ),
    ab AS (
      SELECT a.vec_id, a.cluster,
             a.dist2 AS a2, b.dist2 AS b2
      FROM (SELECT * FROM pair WHERE rn = 1) a
      JOIN (SELECT * FROM pair WHERE rn = 2) b USING (vec_id)
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           COUNT(*) AS n_vecs,
           CAST(SUM(b2 - a2) AS BIGINT) AS sum_gap,
           CAST(SUM(GREATEST(a2, b2)) AS BIGINT) AS sum_denom,
           CASE WHEN SUM(GREATEST(a2, b2)) = 0 THEN 0.0
                ELSE CAST(SUM(b2 - a2) AS DOUBLE)
                     / CAST(SUM(GREATEST(a2, b2)) AS DOUBLE) END
             AS silhouette_w
    FROM ab GROUP BY cluster
    """
    )


@register(
    "sim_silhouette",
    oracle=_silhouette_oracle(KMEANS_ITERS),
    tags=("similarity", "llm", "ann", "iterative", "evaluation"),
)
def sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit of the trained IVF quantizer: the WEIGHTED
    simplified silhouette per cluster — sum(b2 - a2) / sum(max(a2, b2))
    where a2 is each vector's squared distance to its OWN centroid and
    b2 to the nearest OTHER centroid (the centroid-based "simplified"
    silhouette of Hruschka et al., on squared fixed-point distances).
    Micro-averaging over exact int64 numerators/denominators — instead
    of averaging the per-point ratio — keeps the aggregation
    order-independent: the only double is one final division, so an
    ITERATIVE-training + evaluation pipeline stays hash-exact end to
    end. Near 1 = tight, well-separated cluster; near 0 = overlapping
    (points equidistant to a neighbor); negative = mis-assigned mass.
    Plan: training is sim_kmeans_train's (assignment pure codegen,
    update one k*dim hash-agg per round); the evaluation pass is one
    more codegen projection over the SAME literal-centroid fold
    (array_sort of the k distances, elements 1 and 2) + one hash-agg —
    no joins, no shuffle beyond the k-row rollup."""
    import json as _json

    from ..operators.kmeans import kmeans_fit_fx, quantize_fx

    emb = table(spark, sf_dir, "embeddings")
    init = [
        list(r.q)
        for r in emb.groupBy("label")
        .agg(
            F.min_by(quantize_fx(F.col("embedding")), F.col("vec_id")).alias("q"),
            F.min("vec_id").alias("vec_id"),
        )
        .orderBy("vec_id")
        .select("q")
        .collect()
    ]
    cents, assigned = kmeans_fit_fx(emb, "embedding", init, n_iter=KMEANS_ITERS)
    cents_lit = F.from_json(
        F.lit(_json.dumps(cents)), "array<array<bigint>>"
    )
    dists = F.transform(
        cents_lit,
        lambda c: F.aggregate(
            F.zip_with(c, F.col("__q"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    two = F.array_sort(dists)
    scored = assigned.select(
        "cluster",
        F.element_at(two, 1).alias("a2"),
        F.element_at(two, 2).alias("b2"),
    )
    gap = F.sum(F.col("b2") - F.col("a2")).cast("long")
    den = F.sum(F.greatest(F.col("a2"), F.col("b2"))).cast("long")
    return scored.groupBy(F.col("cluster").cast("long").alias("cluster")).agg(
        F.count("*").alias("n_vecs"),
        gap.alias("sum_gap"),
        den.alias("sum_denom"),
        F.when(den == 0, F.lit(0.0))
        .otherwise(gap.cast("double") / den.cast("double"))
        .alias("silhouette_w"),
    )


# ---------------------------------------------------------------------------
# Cross-document exact-span pairs (substring-dedup pair view)
# ---------------------------------------------------------------------------
SPAN_PAIR_DF_CAP = 10  # spans in more docs than this are boilerplate, not copies


@register(
    "docs_span_pair_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents),
    sh AS (SELECT doc_id, {T.shingles_sql("text", SPAN_N)} AS shs FROM toks),
    idx AS (SELECT doc_id AS did, unnest(shs) AS sh FROM sh),
    df AS (
      SELECT sh, COUNT(*) AS df FROM idx GROUP BY sh
      HAVING COUNT(*) BETWEEN 2 AND {SPAN_PAIR_DF_CAP}
    ),
    capped AS (SELECT i.did, i.sh FROM idx i JOIN df USING (sh))
    SELECT a.did AS doc_a, b.did AS doc_b,
           COUNT(*) AS n_shared_spans
    FROM capped a JOIN capped b
      ON a.sh = b.sh AND a.did < b.did
    GROUP BY a.did, b.did
    """,
    tags=("dedup", "llm", "text"),
)
def docs_span_pair_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup at the PAIR level: which document pairs
    share a verbatim {SPAN_N}-token span, and how many — the
    suffix-array-style substring dedup (Lee et al.'s "Deduplicating
    Training Data Makes Language Models Better" shape) approximated by
    fixed-length span anchors, complementing `docs_repeated_spans`'
    per-document ratio with the pair evidence a removal decision needs.
    Spans are DF-CAPPED before the self-join ({SPAN_PAIR_DF_CAP} docs
    max): a span in hundreds of documents is boilerplate — signal for
    `docs_boilerplate_strip`, not a copy edge — and the cap
    simultaneously bounds the join's worst partition at cap^2 (the same
    skew-kill as the AllPairs prefix filter and the tf-idf df cap). The
    span index explodes narrowly from the token array. r12 shape: the
    df-cap bounds every posting list at {SPAN_PAIR_DF_CAP} docs, so the
    pair generation is a POSTING-LIST EXPANSION instead of a self-join —
    one aggregation collects each span's (sorted) doc list, a nested
    `transform` emits its <= C(cap,2) ordered pairs map-side, and one
    count-aggregate replaces the join+filter+count (2 exchanges instead
    of 4; identical (doc_a, doc_b, n) output since the sorted expansion
    enumerates exactly the a < b pairs the join produced)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("ts"))
    idx = toks.select(
        F.col("doc_id").alias("did"),
        F.explode(T.shingles_from_tokens(F.col("ts"), SPAN_N)).alias("sh"),
    )
    posts = (
        idx.groupBy("sh")
        .agg(F.sort_array(F.collect_list("did")).alias("ds"))
        .filter(
            (F.size("ds") >= 2) & (F.size("ds") <= SPAN_PAIR_DF_CAP)
        )
    )
    pairs = posts.select(
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
        ).alias("pr")
    )
    return (
        pairs.groupBy(
            F.col("pr.doc_a").alias("doc_a"),
            F.col("pr.doc_b").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared_spans"))
    )


# ---------------------------------------------------------------------------
# UDTF surface, registered: greedy token-span splitting (one row -> many)
# ---------------------------------------------------------------------------
UDTF_SPAN_TOKS = 32


@register(
    "docs_udtf_token_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents),
    spans AS (
      SELECT doc_id,
             unnest(range(0, CAST(ceil(len(ts) / {UDTF_SPAN_TOKS}.0) AS BIGINT)))
               AS span_idx,
             ts
      FROM toks WHERE len(ts) > 0
    )
    SELECT doc_id,
           CAST(span_idx AS INTEGER) AS span_idx,
           CAST(span_idx * {UDTF_SPAN_TOKS} + 1 AS INTEGER) AS start_tok,
           CAST(LEAST({UDTF_SPAN_TOKS},
                      len(ts) - span_idx * {UDTF_SPAN_TOKS}) AS INTEGER)
             AS n_toks,
           array_to_string(
             ts[CAST(span_idx * {UDTF_SPAN_TOKS} + 1 AS BIGINT)
                : CAST(LEAST((span_idx + 1) * {UDTF_SPAN_TOKS}, len(ts))
                       AS BIGINT)],
             ' ') AS piece
    FROM spans
    """,
    tags=("llm", "text", "udtf", "chunking"),
)
def docs_udtf_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered Python-UDTF query (SURVEY §2.10's table-valued
    extension point, exercised end-to-end, not just unit-tested): each
    document lateral-joins its greedy <= {UDTF_SPAN_TOKS}-token spans
    from `operators/udtf_ops.GreedyTokenSpans` — the one-row-to-many
    expansion whose per-row sequential state (accumulated span length)
    a column expression cannot express, while rows stay trivially
    parallel. The oracle reproduces the identical chunk boundaries with
    pure list arithmetic, so the UDTF's Python path is hash-checked
    against an engine that never runs Python. (The other sanctioned
    Python surfaces — Arrow kernels and applyInPandasWithState — are
    driver-verified by the multimodal and stream families.)"""
    from ..operators.udtf_ops import split_spans

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return split_spans(d, "text", UDTF_SPAN_TOKS).select(
        "doc_id", "span_idx", "start_tok", "n_toks", "piece"
    )


# ---------------------------------------------------------------------------
# IVF tuning curve: recall@k as a function of nprobe
# ---------------------------------------------------------------------------
NPROBE_CURVE = (1, 2, 3)


def _nprobe_curve_oracle() -> str:
    cos_vc = V.cosine_sql("e.v", "c.cv")
    cos_qc = V.cosine_sql("q.qv", "c.cv")
    cos_qv = V.cosine_sql("a.v", "p.qv")
    arms = []
    for np_ in NPROBE_CURVE:
        arms.append(f"""
    probes{np_} AS (
      SELECT qid, qv, cid AS cluster_id FROM (
        SELECT q.qid, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY {cos_qc} DESC, c.cid) AS r
        FROM q, cents c
      ) WHERE r <= {np_}
    ),
    top{np_} AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid
                                  ORDER BY {cos_qv} DESC, a.vec_id) AS rnk
        FROM assigned a JOIN probes{np_} p USING (cluster_id)
        WHERE a.vec_id <> p.qid
      ) WHERE rnk <= {ANN_K}
    ),
    hits{np_} AS (
      SELECT {np_} AS nprobe,
             COUNT(*) AS n_hits
      FROM top{np_} t JOIN etop x
        ON x.qid = t.qid AND x.vec_id = t.vec_id
    )""")
    unions = " UNION ALL ".join(
        f"SELECT nprobe, n_hits FROM hits{np_}" for np_ in NPROBE_CURVE
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % {IVF_CENTROID_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    assigned AS (
      SELECT vec_id, v, cid AS cluster_id FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_vc} DESC, c.cid) AS r
        FROM e, cents c
      ) WHERE r = 1
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e
          WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    escored AS (
      SELECT q.qid, e.vec_id, {V.cosine_sql("e.v", "q.qv")} AS sim
      FROM e, q WHERE e.vec_id <> q.qid
    ),
    etop AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS r
        FROM escored) WHERE r <= {ANN_K}
    ),
    expected AS (SELECT COUNT(*) AS n_expected FROM etop),{",".join(arms)}
    SELECT u.nprobe, u.n_hits, x.n_expected,
           CAST(u.n_hits AS DOUBLE) / x.n_expected AS recall
    FROM ({unions}) u, expected x
    """


@register(
    "sim_nprobe_recall_curve",
    oracle=_nprobe_curve_oracle(),
    tags=("similarity", "llm", "ann", "evaluation"),
)
def sim_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF TUNING CURVE: recall@{ANN_K} against the exact top-k for
    nprobe in {NPROBE_CURVE} — the measurement that sizes the
    latency/recall trade every IVF deployment makes (each +1 probe costs
    ~1/|centroids| more candidates; the curve shows what it buys). The
    exact top-k and the corpus assignment are each computed ONCE and
    persisted; the three probe arms reuse them (three bounded window
    passes over broadcast probe sets), so the query costs one brute-force
    pass + three candidate scans, not three full evaluations. Every arm
    is the same deterministic machinery as sim_ann_ivf (id tiebreaks),
    so all three recall points hash-match the oracle."""
    from ..operators.similarity import brute_force_topk, ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP))
    cents = emb.filter((F.col("vec_id") % IVF_CENTROID_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP))
    exact = _persist_tracked(
        brute_force_topk(emb, queries, ANN_K).select("qid", "vec_id")
    )
    expected = F.broadcast(exact.agg(F.count("*").alias("n_expected")))
    arms = []
    for np_ in NPROBE_CURVE:
        approx = ivf_topk(emb, queries, cents, ANN_K, np_).select(
            "qid", "vec_id"
        )
        arms.append(
            approx.join(exact, ["qid", "vec_id"]).agg(
                F.lit(np_).alias("nprobe"), F.count("*").alias("n_hits")
            )
        )
    curve = arms[0]
    for a in arms[1:]:
        curve = curve.unionByName(a)
    return curve.crossJoin(expected).select(
        "nprobe",
        "n_hits",
        "n_expected",
        (F.col("n_hits").cast("double") / F.col("n_expected")).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM (the production smoothing, vs the MLE score)
# ---------------------------------------------------------------------------
KN_BOTTOM_K = 10
# absolute discount D = 3/4 as exact integer ratios: 4*c - 3 and 3*N1+
# keep every model quantity an integer until the final pinned divisions


@register(
    "text_kneser_ney_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {{tokens}} AS ts FROM documents
    ),
    bi AS (
      SELECT doc_id, i AS pos, ts[i] AS a, ts[i + 1] AS b
      FROM (
        SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        FROM toks WHERE len(ts) >= 2
      )
    ),
    cab AS (SELECT a, b, COUNT(*) AS cab FROM bi GROUP BY a, b),
    stats_a AS (
      SELECT a, CAST(SUM(cab) AS BIGINT) AS ca,
             CAST(COUNT(*) AS BIGINT) AS n1f
      FROM cab GROUP BY a
    ),
    n1b AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n1b FROM cab GROUP BY b),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM cab),
    probs AS (
      SELECT bi.doc_id, bi.pos,
             CAST(4 * cab.cab - 3 AS DOUBLE) / CAST(4 * sa.ca AS DOUBLE)
             + (CAST(3 * sa.n1f AS DOUBLE) / CAST(4 * sa.ca AS DOUBLE))
               * (CAST(n1b.n1b AS DOUBLE) / CAST(nt.ntypes AS DOUBLE)) AS p
      FROM bi JOIN cab USING (a, b)
              JOIN stats_a sa USING (a)
              JOIN n1b USING (b)
              CROSS JOIN nt
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY pos)),
               (acc, x) -> acc + x) AS psum
      FROM probs GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           psum / CAST(n_bigrams AS DOUBLE) AS kn_score
    FROM agg ORDER BY kn_score ASC, doc_id LIMIT {KN_BOTTOM_K}
    """.replace("{{tokens}}", "{tokens}").format(tokens=T.tokens_sql("text")),
    tags=("llm", "text", "quality", "join"),
)
def text_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram fluency — the production LM
    smoothing next to text_bigram_lm_score's raw MLE:
    P(b|a) = (c(ab) - D)/c(a) + D·N1+(a·)/c(a) · N1+(·b)/N_types with
    D = 0.75, where the continuation weight N1+(·b) (distinct LEFT
    contexts of b) replaces raw frequency — the famous "San Francisco"
    fix. With D = 3/4, every model quantity stays an exact integer
    (4c-3, 3·N1+, 4·c(a)); the probability is three pinned double
    divisions + one multiply + one add, identical textual shape on both
    engines, and the per-doc mean is the position-ordered fold shared
    with the MLE query. Every scored bigram occurred in training, so
    c(ab) >= 1 and the discounted term needs no max(,0) branch.
    Plan: model tables are aggregates OF the bigram-type table (cab) —
    tiny; they broadcast back onto the bigram stream; the 1-row type
    count is a scalar cross join. Bottom-10 is TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("ts"))
    pairs = F.when(
        F.size("ts") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - 1),
            lambda i: F.struct(
                F.element_at(F.col("ts"), i.cast("int")).alias("a"),
                F.element_at(F.col("ts"), (i + 1).cast("int")).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    bi = toks.select(
        "doc_id", F.posexplode(pairs).alias("pos", "pr")
    ).select("doc_id", "pos", F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
    cab = bi.groupBy("a", "b").agg(F.count("*").alias("cab"))
    stats_a = cab.groupBy("a").agg(
        F.sum("cab").cast("long").alias("ca"),
        F.count("*").cast("long").alias("n1f"),
    )
    n1b = cab.groupBy("b").agg(F.count("*").cast("long").alias("n1b"))
    nt = cab.agg(F.count("*").cast("long").alias("ntypes"))
    p = (
        (F.lit(4) * F.col("cab") - 3).cast("double")
        / (F.lit(4) * F.col("ca")).cast("double")
    ) + (
        (F.lit(3) * F.col("n1f")).cast("double")
        / (F.lit(4) * F.col("ca")).cast("double")
    ) * (F.col("n1b").cast("double") / F.col("ntypes").cast("double"))
    probs = (
        bi.join(cab, ["a", "b"])
        .join(stats_a, "a")
        .join(n1b, "b")
        .crossJoin(F.broadcast(nt))
        .select("doc_id", "pos", p.alias("p"))
    )
    agg = probs.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "p"))),
            F.lit(0.0),
            lambda acc, s: acc + s["p"],
        ).alias("psum"),
    )
    return (
        agg.select(
            "doc_id",
            "n_bigrams",
            (F.col("psum") / F.col("n_bigrams").cast("double")).alias(
                "kn_score"
            ),
        )
        .orderBy(F.asc("kn_score"), F.asc("doc_id"))
        .limit(KN_BOTTOM_K)
    )


# ---------------------------------------------------------------------------
# SemDeDup: keep/drop decisions from cluster-blocked embedding cosine
# ---------------------------------------------------------------------------
def _semdedup_oracle() -> str:
    cos_vc = V.cosine_sql("e.v", "c.cv")
    cos_ab = V.cosine_sql("a.v", "b.v")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {IVF_CENTROID_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    assigned AS (
      SELECT vec_id, v, cid AS cluster_id FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_vc} DESC, c.cid) AS r
        FROM e, cents c
      ) WHERE r = 1
    ),
    hits AS (
      SELECT b.vec_id AS vec_id, a.vec_id AS partner, {cos_ab} AS sim
      FROM assigned a JOIN assigned b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE {cos_ab} >= {COSINE_DUP_THRESHOLD}
    ),
    best AS (
      SELECT vec_id, partner, sim FROM (
        SELECT vec_id, partner, sim,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, partner) AS rn
        FROM hits
      ) WHERE rn = 1
    )
    SELECT s.vec_id, s.cluster_id,
           b.vec_id IS NOT NULL AS dropped,
           COALESCE(b.sim, -1.0) AS best_sim,
           CAST(COALESCE(b.partner, -1) AS BIGINT) AS best_partner
    FROM assigned s LEFT JOIN best b ON b.vec_id = s.vec_id
    """


@register(
    "dedup_semdedup",
    oracle=_semdedup_oracle(),
    tags=("dedup", "llm", "vector", "selection"),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) keep/drop decisions: cluster the
    embeddings (seeded IVF assignment), and inside each cluster DROP
    every vector that has a LOWER-id neighbor with cosine >= 0.4 —
    the deterministic per-item rule the paper applies per cluster
    (no transitive closure: b is judged only against earlier kept-or-
    dropped ids, which is the paper's fixed-order scan). The complement
    of `dedup_embedding_cosine`'s pair LIST: this emits the per-item
    decision plus the best offending partner/similarity (-1 sentinel
    for clean items — null bigints round-trip as NaN floats through
    the canonicalizer, sentinels don't). Pairs form only inside a
    centroid bucket — |pairs| ~ n^2/|clusters|, shuffle-local when the
    assignment is written partitioned; the decision layer adds one
    bounded per-vec window + a left join."""
    from ..functions.vectors import dot

    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(
        (F.col("vec_id") % IVF_CENTROID_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP)
    )
    assigned = S.ivf_assign(emb, cents)
    a = assigned.alias("a")
    b = assigned.alias("b")
    sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))
    hits = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.vec_id").alias("partner"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= COSINE_DUP_THRESHOLD)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("partner"))
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "partner", "sim")
    )
    return (
        assigned.select("vec_id", "cluster_id")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("partner").isNotNull().alias("dropped"),
            F.coalesce("sim", F.lit(-1.0)).alias("best_sim"),
            F.coalesce("partner", F.lit(-1)).cast("long").alias("best_partner"),
        )
    )


# ---------------------------------------------------------------------------
# Repeated n-gram character coverage (the RefinedWeb/Gopher repetition
# quality signal): fraction of a document's characters inside duplicated
# word 5-grams
# ---------------------------------------------------------------------------
REP_NGRAM_N = 5


def _rep_cov_oracle() -> str:
    gram = " || ' ' || ".join(f"ts[i + {j}]" for j in range(REP_NGRAM_N))
    return f"""
    WITH toks AS (SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents),
    words AS (
      SELECT doc_id, i AS pos, length(ts[i]) AS wlen
      FROM toks, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) r
    ),
    g AS (
      SELECT doc_id, i AS pos, ({gram}) AS gram
      FROM toks,
           LATERAL (SELECT unnest(range(1,
                      greatest(len(ts) - {REP_NGRAM_N - 2}, 1))) AS i) r
      WHERE len(ts) >= {REP_NGRAM_N}
    ),
    cnt AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY doc_id, gram) AS c
      FROM g
    ),
    cov AS (
      SELECT DISTINCT doc_id, pos + j AS cpos
      FROM cnt, LATERAL (SELECT unnest(range(0, {REP_NGRAM_N})) AS j) s
      WHERE c >= 2
    ),
    per AS (
      SELECT w.doc_id, CAST(SUM(w.wlen) AS BIGINT) AS covered
      FROM cov c JOIN words w ON w.doc_id = c.doc_id AND w.pos = c.cpos
      GROUP BY w.doc_id
    ),
    tchars AS (
      SELECT doc_id, CAST(SUM(wlen) AS BIGINT) AS total_chars
      FROM words GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_words,
           COALESCE(tc.total_chars, 0) AS total_chars,
           COALESCE(p.covered, 0) AS covered_chars,
           CASE WHEN COALESCE(tc.total_chars, 0) = 0 THEN 0.0
                ELSE CAST(COALESCE(p.covered, 0) AS DOUBLE) / tc.total_chars
           END AS dup_char_frac
    FROM toks t
    LEFT JOIN tchars tc ON tc.doc_id = t.doc_id
    LEFT JOIN per p ON p.doc_id = t.doc_id
    """


@register(
    "docs_rep_ngram_coverage",
    oracle=_rep_cov_oracle(),
    tags=("llm", "text", "quality"),
)
def docs_rep_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-{n}-gram CHARACTER COVERAGE per document — the
    RefinedWeb / Gopher repetition signal ("fraction of characters in
    duplicate n-grams") that catches boilerplate loops and degenerate
    generations which per-line dedup misses: every word position lying
    inside any {n}-gram that occurs >= 2 times in the SAME document is
    marked covered (positions under overlapping duplicates count once —
    the DISTINCT), and the doc's score is covered word chars / total
    word chars. Counts are exact integers and the final fraction is one
    pinned double division.

    Scale shape: gram duplication is detected with a window COUNT
    partitioned by (doc_id, gram) — bounded by one document's copies of
    one gram, never data-scale; the x{n} position explode runs over DUP
    INSTANCES only (rare in clean corpora); coverage joins are all
    doc_id-keyed shuffles. Nothing global, no driver loops.

    Reference basis: SURVEY §2.12 text-quality family (absent in the
    reference); complements docs_repeated_spans (which finds the spans)
    with the normalized per-doc score corpus filters threshold on."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("ts"))
    words = toks.select(
        "doc_id", F.posexplode("ts").alias("p", "w")
    ).select(
        "doc_id",
        (F.col("p") + 1).alias("pos"),
        F.length("w").cast("long").alias("wlen"),
    )
    n_grams = F.size("ts") - (REP_NGRAM_N - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ",
        *[
            F.element_at("ts", (i + j).cast("int"))
            for j in range(REP_NGRAM_N)
        ],
    )
    grams = toks.filter(F.size("ts") >= REP_NGRAM_N).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.struct(i.alias("pos"), gram(i).alias("gram")),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    wcnt = Window.partitionBy("doc_id", "gram")
    cov = (
        grams.withColumn("c", F.count("*").over(wcnt))
        .filter(F.col("c") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (REP_NGRAM_N - 1))
            ).alias("cpos"),
        )
        .distinct()
    )
    cov = cov.select(F.col("doc_id").alias("cdoc"), "cpos")
    per = (
        cov.join(
            words,
            (F.col("cdoc") == words.doc_id) & (F.col("cpos") == words.pos),
        )
        .groupBy("cdoc")
        .agg(F.sum("wlen").alias("covered"))
        .select(F.col("cdoc").alias("doc_id"), "covered")
    )
    tchars = words.groupBy("doc_id").agg(
        F.sum("wlen").alias("total_chars")
    )
    base = toks.select("doc_id", F.size("ts").cast("long").alias("n_words"))
    out = (
        base.join(tchars, "doc_id", "left")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("total_chars", F.lit(0)).alias("total_chars"),
            F.coalesce("covered", F.lit(0)).alias("covered_chars"),
            F.when(F.coalesce("total_chars", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.coalesce("covered", F.lit(0)).cast("double")
                / F.col("total_chars")
            )
            .alias("dup_char_frac"),
        )
    )
    return out


docs_rep_ngram_coverage.__doc__ = docs_rep_ngram_coverage.__doc__.format(
    n=REP_NGRAM_N
)


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) — the
# diversity-aware top-k a RAG/retrieval pipeline serves instead of the raw
# similarity list
# ---------------------------------------------------------------------------
MMR_CAND = 16  # relevance candidates per query fed into the greedy rerank
MMR_K = 8  # greedy picks per query


def _mmr_oracle() -> str:
    cos_eq = V.cosine_sql("e.v", "q.qv")
    cos_ab = V.cosine_sql("a.v", "b.v")
    head = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e
          WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    scored AS MATERIALIZED (
      SELECT q.qid, e.vec_id, {cos_eq} AS rel
      FROM e, q WHERE e.vec_id <> q.qid
    ),
    cand AS MATERIALIZED (
      SELECT qid, vec_id, rel FROM (
        SELECT qid, vec_id, rel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, vec_id) AS r
        FROM scored) WHERE r <= {MMR_CAND}
    ),
    cv AS MATERIALIZED (SELECT c.qid, c.vec_id, c.rel, e.v
           FROM cand c JOIN e ON e.vec_id = c.vec_id),
    pairs AS MATERIALIZED (
      SELECT a.qid, a.vec_id AS ca, b.vec_id AS cb, {cos_ab} AS psim
      FROM cv a JOIN cv b ON b.qid = a.qid AND b.vec_id <> a.vec_id
    ),
    sel1 AS MATERIALIZED (
      SELECT qid, vec_id, 0.7 * rel AS score FROM (
        SELECT qid, vec_id, rel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY 0.7 * rel DESC, vec_id) AS r
        FROM cand) WHERE r = 1
    ),
    all1 AS MATERIALIZED (SELECT qid, 1 AS step, vec_id, score FROM sel1)"""
    stages = []
    for t in range(2, MMR_K + 1):
        stages.append(f""",
    pen{t} AS MATERIALIZED (
      SELECT c.qid, c.vec_id, c.rel, MAX(p.psim) AS pen
      FROM cand c
      JOIN pairs p ON p.qid = c.qid AND p.ca = c.vec_id
      JOIN all{t - 1} s ON s.qid = p.qid AND s.vec_id = p.cb
      WHERE NOT EXISTS (SELECT 1 FROM all{t - 1} x
                        WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
      GROUP BY c.qid, c.vec_id, c.rel
    ),
    sel{t} AS MATERIALIZED (
      SELECT qid, vec_id, score FROM (
        SELECT qid, vec_id, 0.7 * rel - 0.3 * pen AS score,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY (0.7 * rel - 0.3 * pen) DESC,
                                           vec_id) AS r
        FROM pen{t}) WHERE r = 1
    ),
    all{t} AS MATERIALIZED (SELECT * FROM all{t - 1}
               UNION ALL SELECT qid, {t} AS step, vec_id, score FROM sel{t})"""
        )
    return (
        head
        + "".join(stages)
        + f"""
    SELECT qid, CAST(step AS BIGINT) AS step, vec_id, score AS mmr_score
    FROM all{MMR_K}"""
    )


@register(
    "sim_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("similarity", "llm", "vector", "iterative"),
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank: from each query's top-{C}
    cosine candidates, greedily pick {K} documents maximizing
    0.7 * relevance - 0.3 * (max similarity to anything already picked)
    — the classic diversity-aware selection that stops a retrieval list
    from returning {K} near-copies of the same passage. All queries
    rerank SIMULTANEOUSLY: each greedy step picks one winner PER QUERY
    with a single qid-partitioned rank over the bounded candidate
    frame, so the {K}-step loop is executor-side throughout (no
    per-step collect; the selected set is a growing {K} x |queries|
    frame, localCheckpoint-ed per step to keep lineage flat).

    Determinism: relevance and candidate-pair cosines are computed once
    (identical ordered float folds on both engines, the sim-family
    contract), every score is the same two pinned double ops, and all
    ranks tie-break on vec_id — so the oracle's {K} unrolled CTE stages
    reproduce the greedy bit-for-bit.

    Scale shape: candidate generation is the two-stage brute-force
    top-k (broadcast queries, corpus scanned once); everything after
    operates on |queries| x {C} rows — the pair matrix is {C}^2 per
    query by construction. At 100 TB only the candidate scan grows."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") % ANN_QUERY_MOD == 0) & (F.col("vec_id") < ANN_SEED_CAP)
    )
    cand = _persist_tracked(
        S.brute_force_topk(emb, queries, MMR_CAND).select(
            "qid", "vec_id", F.col("sim").alias("rel")
        )
    )
    ev = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cv = cand.join(ev, "vec_id").select("qid", "vec_id", "rel", "v")
    a = cv.alias("a")
    b = cv.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.qid") == F.col("b.qid"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.qid").alias("qid"),
            F.col("a.vec_id").alias("ca"),
            F.col("b.vec_id").alias("cb"),
            V.cosine(F.col("a.v"), F.col("b.v")).alias("psim"),
        )
    )
    pairs = _persist_tracked(pairs)
    w_pick = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    sel1 = (
        cand.select("qid", "vec_id", (F.lit(0.7) * F.col("rel")).alias("score"))
        .withColumn("r", F.row_number().over(w_pick))
        .filter(F.col("r") == 1)
        .select("qid", F.lit(1).cast("long").alias("step"), "vec_id", "score")
    )
    all_sel = sel1.localCheckpoint(eager=True)
    for t in range(2, MMR_K + 1):
        rem = cand.join(
            all_sel.select("qid", "vec_id"), ["qid", "vec_id"], "left_anti"
        )
        pen = (
            rem.join(
                pairs.withColumnRenamed("ca", "vec_id"), ["qid", "vec_id"]
            )
            .join(
                all_sel.select("qid", F.col("vec_id").alias("cb")),
                ["qid", "cb"],
            )
            .groupBy("qid", "vec_id", "rel")
            .agg(F.max("psim").alias("pen"))
        )
        win = (
            pen.select(
                "qid",
                "vec_id",
                (F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("pen")).alias(
                    "score"
                ),
            )
            .withColumn("r", F.row_number().over(w_pick))
            .filter(F.col("r") == 1)
            .select(
                "qid", F.lit(t).cast("long").alias("step"), "vec_id", "score"
            )
        )
        all_sel = all_sel.unionByName(win).localCheckpoint(eager=True)
    return all_sel.select(
        "qid", "step", "vec_id", F.col("score").alias("mmr_score")
    )


sim_mmr_rerank.__doc__ = sim_mmr_rerank.__doc__.format(C=MMR_CAND, K=MMR_K)


# ---------------------------------------------------------------------------
# Stupid Backoff n-gram scoring (Brants et al. 2007, "Large Language
# Models in Machine Translation") — the log-free web-scale LM baseline
# ---------------------------------------------------------------------------
SB_TOP_BIGRAMS = 10  # probe contexts
SB_TOP_UNIGRAMS = 3  # probe continuations
SB_LAMBDA = "0.4"  # the canonical backoff factor — same literal, both engines


def _sb_oracle() -> str:
    return f"""
    WITH toks AS (SELECT doc_id, {T.tokens_sql("text")} AS ts FROM documents),
    uni AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
        SELECT unnest(ts) AS w FROM toks) GROUP BY w
    ),
    n_tok AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
    bi AS MATERIALIZED (
      SELECT ts[i] AS a, ts[i + 1] AS b, CAST(COUNT(*) AS BIGINT) AS c2
      FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(ts), 1))) AS i) r
      WHERE len(ts) >= 2
      GROUP BY 1, 2
    ),
    tri AS MATERIALIZED (
      SELECT ts[i] AS a, ts[i + 1] AS b, ts[i + 2] AS c,
             CAST(COUNT(*) AS BIGINT) AS c3
      FROM toks,
           LATERAL (SELECT unnest(range(1, greatest(len(ts) - 1, 1))) AS i) r
      WHERE len(ts) >= 3
      GROUP BY 1, 2, 3
    ),
    top_bi AS (
      SELECT a, b, c2 FROM (
        SELECT a, b, c2, ROW_NUMBER() OVER (ORDER BY c2 DESC, a, b) AS r
        FROM bi) WHERE r <= {SB_TOP_BIGRAMS}
    ),
    top_uni AS (
      SELECT w, c1 FROM (
        SELECT w, c1, ROW_NUMBER() OVER (ORDER BY c1 DESC, w) AS r
        FROM uni) WHERE r <= {SB_TOP_UNIGRAMS}
    ),
    probes AS (
      SELECT tb.a, tb.b, tu.w AS c, tb.c2 AS c2_ab
      FROM top_bi tb CROSS JOIN top_uni tu
    )
    SELECT p.a, p.b, p.c,
           CASE WHEN t.c3 IS NOT NULL THEN 'trigram'
                WHEN b2.c2 IS NOT NULL THEN 'bigram-backoff'
                ELSE 'unigram-backoff' END AS path,
           CASE WHEN t.c3 IS NOT NULL
                THEN CAST(t.c3 AS DOUBLE) / p.c2_ab
                WHEN b2.c2 IS NOT NULL
                THEN {SB_LAMBDA} * (CAST(b2.c2 AS DOUBLE) / ub.c1)
                ELSE {SB_LAMBDA} * ({SB_LAMBDA}
                     * (CAST(uc.c1 AS DOUBLE) / nt.n)) END AS score
    FROM probes p
    LEFT JOIN tri t ON t.a = p.a AND t.b = p.b AND t.c = p.c
    LEFT JOIN bi b2 ON b2.a = p.b AND b2.b = p.c
    JOIN uni ub ON ub.w = p.b
    JOIN uni uc ON uc.w = p.c
    CROSS JOIN n_tok nt
    """


@register(
    "text_stupid_backoff",
    oracle=_sb_oracle(),
    tags=("llm", "text", "lm", "search"),
)
def text_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STUPID BACKOFF trigram scoring (Brants et al. 2007) — the LM
    score Google shipped at web scale precisely BECAUSE it needs no
    normalization and no logs: S(c|a,b) = count(abc)/count(ab) when the
    trigram exists, else 0.4 * S(c|b), else 0.4 * 0.4 * count(c)/N.
    The probe set is the top-{nb} bigram contexts x top-{nu} unigram
    continuations (both deterministic: count desc, token asc), so all
    three backoff paths exercise on real data; every score is
    count-ratio arithmetic in a pinned shape — no ln(), the repo's
    cross-engine doctrine — and hash-matches the SQL replay exactly.
    Complements text_kneser_ney_score (exact-integer discounts): KN is
    the quality-eval scorer, Stupid Backoff the serving-scale one.

    Scale shape: the three count tables build map-side-combined from
    one token explode; the {nb}x{nu}-row probe frame SEMI-PRUNES each
    count table before its left join (broadcast of the probe keys —
    never a broadcast of the vocabulary-sized tables), so at 100 TB the
    big tables are filtered down to probe-key rows before any join
    builds a hash side."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("ts"))
    uni = (
        toks.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    n_tok = uni.agg(F.sum("c1").alias("n"))

    def grams(width, names):
        g = toks.filter(F.size("ts") >= width).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - (width - 1)),
                    lambda i: F.struct(
                        *[
                            F.element_at("ts", (i + j).cast("int")).alias(
                                names[j]
                            )
                            for j in range(width)
                        ]
                    ),
                )
            ).alias("g")
        )
        return g.select(*[F.col(f"g.{nm}").alias(nm) for nm in names])

    bi = grams(2, ["a", "b"]).groupBy("a", "b").agg(F.count("*").alias("c2"))
    tri = (
        grams(3, ["a", "b", "c"])
        .groupBy("a", "b", "c")
        .agg(F.count("*").alias("c3"))
    )
    top_bi = bi.orderBy(F.desc("c2"), "a", "b").limit(SB_TOP_BIGRAMS)
    top_uni = (
        uni.orderBy(F.desc("c1"), "w")
        .limit(SB_TOP_UNIGRAMS)
        .select(F.col("w").alias("c"))
    )
    probes = top_bi.select("a", "b", F.col("c2").alias("c2_ab")).crossJoin(
        F.broadcast(top_uni)
    )
    # scale-correct join shape: prune each count table to probe keys
    # FIRST (broadcast semi-join of the tiny probe-key frame), then left
    # join small-to-small
    tri_p = tri.join(
        F.broadcast(probes.select("a", "b", "c")), ["a", "b", "c"], "left_semi"
    )
    bi_bc = bi.select(
        F.col("a").alias("b"), F.col("b").alias("c"), F.col("c2").alias("c2_bc")
    )
    bi_p = bi_bc.join(
        F.broadcast(probes.select("b", "c")), ["b", "c"], "left_semi"
    )
    uni_b = uni.select(F.col("w").alias("b"), F.col("c1").alias("c1_b")).join(
        F.broadcast(probes.select("b")), ["b"], "left_semi"
    )
    uni_c = uni.select(F.col("w").alias("c"), F.col("c1").alias("c1_c")).join(
        F.broadcast(probes.select("c")), ["c"], "left_semi"
    )
    lam = F.lit(float(SB_LAMBDA))
    out = (
        probes.join(tri_p, ["a", "b", "c"], "left")
        .join(bi_p, ["b", "c"], "left")
        .join(uni_b, ["b"])
        .join(uni_c, ["c"])
        .crossJoin(F.broadcast(n_tok))
    )
    score = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c2_ab"),
        )
        .when(
            F.col("c2_bc").isNotNull(),
            lam * (F.col("c2_bc").cast("double") / F.col("c1_b")),
        )
        .otherwise(lam * (lam * (F.col("c1_c").cast("double") / F.col("n"))))
    )
    path = (
        F.when(F.col("c3").isNotNull(), "trigram")
        .when(F.col("c2_bc").isNotNull(), "bigram-backoff")
        .otherwise("unigram-backoff")
    )
    return out.select(
        "a", "b", "c", path.alias("path"), score.alias("score")
    )


text_stupid_backoff.__doc__ = text_stupid_backoff.__doc__.format(
    nb=SB_TOP_BIGRAMS, nu=SB_TOP_UNIGRAMS
)


# ---------------------------------------------------------------------------
# Exact radius (range) similarity search — the API companion to top-k
# ---------------------------------------------------------------------------
RADIUS_TAU = "0.3"  # cosine radius — the same decimal literal, both engines


@register(
    "sim_radius_search",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e
          WHERE vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_SEED_CAP}),
    hits AS (
      SELECT q.qid, e.vec_id, {V.cosine_sql("e.v", "q.qv")} AS sim
      FROM e, q
      WHERE e.vec_id <> q.qid
        AND {V.cosine_sql("e.v", "q.qv")} >= {RADIUS_TAU}
    )
    SELECT qid, vec_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, vec_id) AS BIGINT)
             AS rnk,
           CAST(COUNT(*) OVER (PARTITION BY qid) AS BIGINT) AS n_within
    FROM hits
    """,
    tags=("similarity", "llm", "vector"),
)
def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT RADIUS SEARCH: every corpus vector within cosine >= {tau}
    of each query — the range-query companion to the top-k family
    (sim_embedding_topk answers "the k closest no matter how far";
    radius search answers "everything at least this similar no matter
    how many" — the primitive behind near-duplicate lookups with a
    quality bar, recall-oriented retrieval, and density estimates).
    Each hit carries its similarity, its rank within the ball, and the
    ball's population. Exact semantics: a broadcast of the bounded
    query set against ONE streaming corpus scan with the filter fused
    into the scan projection — no shuffle before the per-ball window
    over the (tiny) hit set. At 100 TB this is the same map-only scan
    shape as the brute-force top-k baseline (the adaptive IVF router
    family covers the approximate path); the radius filter prunes
    map-side, so only matches ever reach an exchange. Reference basis:
    SURVEY.md §2.12 vector family (absent in reference)."""
    # r12: precompute each side's norm ONCE (corpus norm per vector,
    # query norm per query) instead of folding both norms inside every
    # (corpus, query) cosine — dot/(nv*nq) is the same IEEE ops on the
    # same inputs as cosine(v, qv), bit-identical, and the scan stage
    # drops from 3 array folds per pair to 1.
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    corpus = emb.withColumn("nv", V.norm(F.col("v")))
    q = corpus.filter(
        (F.col("vec_id") % ANN_QUERY_MOD == 0)
        & (F.col("vec_id") < ANN_SEED_CAP)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    sim = V.dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))
    hits = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sim.alias("sim"))
        .filter(F.col("sim") >= F.lit(float(RADIUS_TAU)))
    )
    w_r = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    w_n = Window.partitionBy("qid")
    return hits.select(
        "qid",
        "vec_id",
        "sim",
        F.row_number().over(w_r).cast("long").alias("rnk"),
        F.count("*").over(w_n).alias("n_within"),
    )


sim_radius_search.__doc__ = sim_radius_search.__doc__.format(tau=RADIUS_TAU)


# ---------------------------------------------------------------------------
# Adjusted Rand Index between two deterministic clusterings (eval family)
# ---------------------------------------------------------------------------
def _ari_oracle() -> str:
    from ..functions.vectors import hyperplane_band_sql

    cos_xc = V.cosine_sql("x.v", "c.cv")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % {IVF_CENTROID_MOD} = 0
                AND vec_id < {ANN_SEED_CAP}),
    cell AS (
      SELECT vec_id, cell FROM (
        SELECT x.vec_id, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {cos_xc} DESC, c.cid) AS r
        FROM e x, cents c) WHERE r = 1
    ),
    buck AS (SELECT vec_id, {hyperplane_band_sql('v', 0)} AS bucket FROM e),
    cont AS (
      SELECT cell, bucket, CAST(COUNT(*) AS BIGINT) AS nij
      FROM cell JOIN buck USING (vec_id) GROUP BY 1, 2
    ),
    comp AS (
      SELECT CAST(SUM(nij) AS BIGINT) AS n,
             CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS s_ij,
             (SELECT CAST(SUM(a * (a - 1) // 2) AS BIGINT) FROM (
                SELECT SUM(nij) AS a FROM cont GROUP BY cell)) AS s_a,
             (SELECT CAST(SUM(b * (b - 1) // 2) AS BIGINT) FROM (
                SELECT SUM(nij) AS b FROM cont GROUP BY bucket)) AS s_b
      FROM cont
    )
    SELECT n, s_ij, s_a, s_b,
           CAST(n * (n - 1) // 2 AS BIGINT) AS c_pairs,
           (CAST(s_ij AS DOUBLE)
            - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE)
              / CAST(n * (n - 1) // 2 AS DOUBLE))
           / ((CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE)) / 2.0
              - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE)
                / CAST(n * (n - 1) // 2 AS DOUBLE)) AS ari
    FROM comp
    """


@register(
    "sim_ari_clusterings",
    oracle=_ari_oracle(),
    tags=("similarity", "llm", "vector", "eval"),
)
def sim_ari_clusterings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADJUSTED RAND INDEX between two deterministic clusterings of the
    embedding corpus — nearest-IVF-centroid cells vs sign-LSH band-0
    buckets: the chance-corrected agreement score (Hubert & Arabie
    1985) that answers "do my cheap hash buckets approximate the
    centroid partition" with one number in [-0.5, 1]. Joins the eval
    family next to dedup_bcubed_eval (set-overlap view) and
    lang_id_kappa (label-agreement view); ARI is the PAIR-COUNTING
    view. Everything through the contingency table is EXACT INTEGER
    combinatorics: n_ij, the three sums of C(.,2), and total pairs are
    BIGINTs in the output (exact for corpora to ~3e9 rows before
    C(n,2) itself overflows — documented bound); only the final index
    is computed in doubles, with the expectation term E = S_a*S_b/C
    and the index shape pinned to the identical operation order on
    both engines.

    Scale shape: one broadcast of the bounded centroid set against a
    streaming corpus scan (argmax per row), one map-side signature
    expression, ONE (cell, bucket) hash aggregation — the contingency
    table is |cells| x |buckets| bounded regardless of corpus size,
    and every downstream sum runs on that bounded frame. Reference
    basis: SURVEY.md §2.12 eval family (absent in reference)."""
    from ..functions.vectors import hyperplane_band, hyperplane_signature

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = emb.filter(
        (F.col("vec_id") % IVF_CENTROID_MOD == 0)
        & (F.col("vec_id") < ANN_SEED_CAP)
    ).select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    w_c = Window.partitionBy("vec_id").orderBy(
        F.desc("cos"), F.asc("cid")
    )
    cell = (
        emb.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "v",
            "cid",
            V.cosine(F.col("v"), F.col("cv")).alias("cos"),
        )
        .withColumn("r", F.row_number().over(w_c))
        .filter(F.col("r") == 1)
        .select(
            "vec_id",
            F.col("cid").alias("cell"),
            hyperplane_band(hyperplane_signature(F.col("v")), 0).alias(
                "bucket"
            ),
        )
    )
    cont = cell.groupBy("cell", "bucket").agg(F.count("*").alias("nij"))
    pairs = lambda c: F.expr(f"CAST({c} * ({c} - 1) div 2 AS BIGINT)")  # noqa: E731
    s_a = (
        cont.groupBy("cell")
        .agg(F.sum("nij").alias("a"))
        .agg(F.sum(pairs("a")).alias("s_a"))
    )
    s_b = (
        cont.groupBy("bucket")
        .agg(F.sum("nij").alias("b"))
        .agg(F.sum(pairs("b")).alias("s_b"))
    )
    comp = (
        cont.agg(
            F.sum("nij").alias("n"), F.sum(pairs("nij")).alias("s_ij")
        )
        .crossJoin(F.broadcast(s_a))
        .crossJoin(F.broadcast(s_b))
    )
    c_d = F.expr("CAST(n * (n - 1) div 2 AS DOUBLE)")
    e_term = F.col("s_a").cast("double") * F.col("s_b").cast("double") / c_d
    ari = (F.col("s_ij").cast("double") - e_term) / (
        (F.col("s_a").cast("double") + F.col("s_b").cast("double"))
        / F.lit(2.0)
        - e_term
    )
    return comp.select(
        "n",
        "s_ij",
        "s_a",
        "s_b",
        F.expr("CAST(n * (n - 1) div 2 AS BIGINT)").alias("c_pairs"),
        ari.alias("ari"),
    )


# ---------------------------------------------------------------------------
# Edit-distance verification of LSH candidates (levenshtein is a builtin
# with identical classic semantics in both engines — unit cost ins/del/sub)
# ---------------------------------------------------------------------------
EDIT_PREFIX_CHARS = 120  # DP cost is O(len^2): bound the compared prefix
EDIT_MAX_RATIO = 0.4


def _editdist_oracle() -> str:
    sig_cols = ",\n         ".join(
        f"min({T.minhash_sql('h', i)}) AS mh{i}" for i in range(T.MINHASH_K)
    )
    band_selects = "\n  UNION ALL ".join(
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
    {_HASHES_CTE},
    sig AS (SELECT did, {sig_cols} FROM hashes GROUP BY did),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT x.did AS doc_a, y.did AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.did < y.did
    ),
    pref AS (
      SELECT doc_id, substr(text, 1, {EDIT_PREFIX_CHARS}) AS p
      FROM documents
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS edit_dist,
             CAST(GREATEST(length(pa.p), length(pb.p), 1) AS BIGINT)
               AS max_len
      FROM cand c
      JOIN pref pa ON pa.doc_id = c.doc_a
      JOIN pref pb ON pb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, edit_dist, max_len,
           CAST(edit_dist AS DOUBLE) / max_len AS edit_ratio
    FROM scored
    WHERE CAST(edit_dist AS DOUBLE) / max_len <= {EDIT_MAX_RATIO}
    """


@register(
    "text_edit_distance_pairs",
    oracle=_editdist_oracle(),
    tags=("dedup", "llm", "text", "lsh"),
)
def text_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE verification over the banded-LSH candidate pairs —
    the character-level complement of the Jaccard verify: shingle
    Jaccard is blind to WITHIN-token edits (OCR noise, diacritics
    stripping, s/&/and/ substitutions) that Levenshtein counts one by
    one, so this is the verify stage fuzzy-dedup pipelines run when
    token-level similarity saturates. The distance is the engines' own
    `levenshtein` builtin — classic unit-cost insert/delete/substitute
    DP with IDENTICAL semantics in Spark and DuckDB, so the values
    hash-match with no reimplementation — computed over the first
    {P} characters (the DP is O(len^2) per pair; a bounded prefix
    keeps the verify stage linear in candidates, the same cost
    argument as the prefix-filtered Jaccard path). Ratio = dist /
    max(prefix lengths), one pinned division; pairs at ratio <=
    {R} survive.

    Scale shape: candidates come from the SAME 8x2 banded minhash join
    as dedup_minhash_lsh (never all-pairs); the verify joins two
    bounded prefix columns onto the candidate frame by doc id; DP cost
    is capped at {P}^2 per candidate. Reference basis: SURVEY.md
    §2.12 dedup family (absent in reference)."""
    d = table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(d, "doc_id", "text")
    cand = D.lsh_candidate_pairs(sig)
    pref = d.select(
        "doc_id",
        F.substring(F.col("text"), 1, EDIT_PREFIX_CHARS).alias("p"),
    )
    scored = (
        cand.join(
            pref.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa")),
            "doc_a",
        )
        .join(
            pref.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("pa"), F.col("pb")).cast("long").alias(
                "edit_dist"
            ),
            F.greatest(
                F.length("pa"), F.length("pb"), F.lit(1)
            ).cast("long").alias("max_len"),
        )
    )
    ratio = F.col("edit_dist").cast("double") / F.col("max_len")
    return scored.filter(ratio <= EDIT_MAX_RATIO).select(
        "doc_a", "doc_b", "edit_dist", "max_len", ratio.alias("edit_ratio")
    )


text_edit_distance_pairs.__doc__ = text_edit_distance_pairs.__doc__.format(
    P=EDIT_PREFIX_CHARS, R=EDIT_MAX_RATIO
)


# ---------------------------------------------------------------------------
# Suffix-LCP duplicate-substring detection (Lee et al. 2022 style, bounded)
# ---------------------------------------------------------------------------
SFX_VIEW = 48  # chars of each word-boundary suffix that participate
SFX_MIN = 20  # minimum duplicated-substring length reported; ALSO the
# bucket width: adjacent-suffix pairs with LCP >= SFX_MIN share their
# first SFX_MIN chars, so bucketing by that prefix is LOSSLESS for every
# reported duplicate while keeping the sort/lag windows bucket-local
# (never a global single-partition suffix sort).
SFX_TOPK = 50


@register(
    "text_suffix_lcp_dedup",
    oracle=f"""
    WITH wt AS (
      SELECT doc_id, {T.tokens_sql("text")} AS ws FROM documents
    ),
    pos AS (
      SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM wt
    ),
    suf AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             substr(array_to_string(ws[CAST(i AS INT):], ' '),
                    1, {SFX_VIEW}) AS sfx
      FROM pos
    ),
    kept AS (
      SELECT doc_id, pos, sfx, substr(sfx, 1, {SFX_MIN}) AS bucket
      FROM suf WHERE length(sfx) >= {SFX_MIN}
    ),
    lagged AS (
      SELECT doc_id, pos, sfx, bucket,
             LAG(sfx) OVER (PARTITION BY bucket
                            ORDER BY sfx, doc_id, pos) AS prev
      FROM kept
    ),
    scored AS (
      SELECT bucket, doc_id,
             CASE WHEN prev IS NULL THEN NULL
                  ELSE LEAST(
                    {SFX_MIN} + list_max(list_transform(
                        range(1, {SFX_VIEW - SFX_MIN + 1}),
                        d -> CASE WHEN substr(sfx, {SFX_MIN + 1},
                                             CAST(d AS INT))
                                       = substr(prev, {SFX_MIN + 1},
                                                CAST(d AS INT))
                                  THEN CAST(d AS INT) ELSE 0 END)),
                    length(sfx), length(prev)) END AS lcp
      FROM lagged
    )
    SELECT bucket AS dup_prefix,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MAX(lcp) AS BIGINT) AS max_lcp
    FROM scored GROUP BY bucket
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, dup_prefix ASC
    LIMIT {SFX_TOPK}
    """,
    tags=("text", "llm", "dedup"),
)
def text_suffix_lcp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE-SUBSTRING detection by the suffix-array LCP method
    (the Lee et al. 2022 "Deduplicating Training Data" exact-substring
    family), bounded to word-boundary suffixes and a {V}-char view:
    every suffix's first {M} chars are its sort BUCKET, suffixes sort
    and LAG within their bucket, and the adjacent-pair longest common
    prefix extends char-by-char past the bucket via a transform fold
    (capped by both lengths, so equal short suffixes report their true
    length, not the view cap). Any cross-doc duplicated substring of
    length >= {M} lands two suffixes in one bucket — the bucketing is
    LOSSLESS above the report threshold while keeping every window
    bucket-local (a global suffix sort would be the single-partition
    scale-killer; this is the distributed suffix-dedup layout). Top
    {K} buckets by (n_docs, n_occurrences, prefix) with the deepest
    adjacent LCP — the memorization-risk panel next to
    docs_rep_ngram_coverage (within-doc repetition) and
    docs_repeated_spans (span granularity).

    Scale shape: suffix count = corpus token count (the text_postings
    cardinality), map-generated; ONE shuffle keyed by the {M}-char
    bucket (48-byte-capped rows); per-bucket windows are tie-group
    sized; the final top-k is TakeOrdered. Reference basis: SURVEY.md
    §2.12 dedup family (absent in reference)."""
    d = table(spark, sf_dir, "documents")
    wt = d.select("doc_id", T.tokens(F.col("text")).alias("ws"))
    # Spark's sequence(1, 0) DESCENDS ([1, 0]) where DuckDB's
    # range(1, 1) is empty — a zero-token doc would explode two bogus
    # positions on one engine only. Guard the degenerate frame out.
    wt = wt.filter(F.size("ws") >= 1)
    pos = wt.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(1), F.size("ws"))).alias("i"),
    )
    # r12: build each suffix from at most SFX_VIEW//2 + 1 tokens instead
    # of the doc's whole tail — every token contributes >= 2 chars to the
    # joined string (1 char + separator), so 25 tokens always cover the
    # 48-char view and the truncated substring is bit-identical; the old
    # full-tail concat made suffix generation O(len^2) per document.
    suf = pos.select(
        "doc_id",
        F.col("i").cast("long").alias("pos"),
        F.substring(
            F.concat_ws(
                " ", F.expr(f"slice(ws, i, {SFX_VIEW // 2 + 1})")
            ),
            1,
            SFX_VIEW,
        ).alias("sfx"),
    )
    kept = suf.filter(F.length("sfx") >= SFX_MIN).withColumn(
        "bucket", F.substring("sfx", 1, SFX_MIN)
    )
    w = Window.partitionBy("bucket").orderBy("sfx", "doc_id", "pos")
    lagged = kept.withColumn("prev", F.lag("sfx").over(w))
    ext = F.expr(
        f"array_max(transform(sequence(1, {SFX_VIEW - SFX_MIN}), "
        f"d -> CASE WHEN substr(sfx, {SFX_MIN + 1}, d) = "
        f"substr(prev, {SFX_MIN + 1}, d) THEN CAST(d AS INT) "
        f"ELSE 0 END))"
    )
    scored = lagged.select(
        "bucket",
        "doc_id",
        F.when(
            F.col("prev").isNull(), F.lit(None).cast("int")
        )
        .otherwise(
            F.least(
                F.lit(SFX_MIN) + ext, F.length("sfx"), F.length("prev")
            )
        )
        .alias("lcp"),
    )
    return (
        scored.groupBy(F.col("bucket").alias("dup_prefix"))
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("lcp").cast("long").alias("max_lcp"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("dup_prefix")
        )
        .limit(SFX_TOPK)
    )


text_suffix_lcp_dedup.__doc__ = text_suffix_lcp_dedup.__doc__.format(
    V=SFX_VIEW, M=SFX_MIN, K=SFX_TOPK
)


# ---------------------------------------------------------------------------
# Yule's K lexical-concentration characteristic (pure-integer spectrum)
# ---------------------------------------------------------------------------
@register(
    "text_yule_k",
    oracle="""
    WITH tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token <> ''
      GROUP BY token
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS v1_hapax,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2_dis,
           10000.0 * CAST(CAST(SUM(CAST(c AS HUGEINT) * c) - SUM(c)
                               AS VARCHAR) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * SUM(c)) AS yule_k,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_share
    FROM tf
    """,
    tags=("llm", "text", "quality"),
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YULE'S K lexical-concentration characteristic of the corpus —
    the classical repeat-rate statistic (10^4 * (sum m^2*V_m - N)/N^2,
    equivalently 10^4*(sum_t c_t^2 - N)/N^2) that, unlike type-token
    ratio and docs_simpson_diversity's per-doc index, is length-
    INVARIANT in expectation — the one vocabulary-richness number
    comparable across corpora of different sizes. Pure integer to the
    last division: one token count, one frequency-spectrum reduce
    (sum c^2 in DECIMAL(38,0), VARCHAR-rendered past 2^53), plus the
    hapax/dis-legomena spectrum heads V_1, V_2 every Good-Turing
    smoother starts from.

    Scale shape: one map-side-combinable token agg, one scalar reduce.
    Reference basis: SURVEY.md §2.12 text family (absent in
    reference)."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    agg = tf.agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("v1_hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("v2_dis"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sc2"),
    )
    return agg.select(
        "n_tokens",
        "n_types",
        "v1_hapax",
        "v2_dis",
        (
            F.lit(10000.0)
            * (F.col("sc2") - F.col("n_tokens"))
            .cast("string")
            .cast("double")
            / (F.col("n_tokens").cast("double") * F.col("n_tokens"))
        ).alias("yule_k"),
        (
            F.col("v1_hapax").cast("double") / F.col("n_types")
        ).alias("hapax_share"),
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources (integer z-cores)
# ---------------------------------------------------------------------------
BURROWS_F = 30  # most-frequent-token feature set (classical Delta uses
# the top 30-150 function words; the fixture has no stopword list, so
# plain corpus-frequency rank with a token tie-break is the analog)
BURROWS_SCALE = 1_000_000_000  # per-mille*1e6 fixed-point for relative
# frequencies: fi = floor(c_sw * 1e9 / n_s) keeps every moment integral


def _burrows_oracle() -> str:
    return f"""
    WITH ex AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    exf AS (SELECT source, tok FROM ex WHERE tok <> ''),
    topf AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS ct FROM exf GROUP BY tok
        ORDER BY ct DESC, tok LIMIT {BURROWS_F}
      )
    ),
    s_tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
              FROM exf GROUP BY source),
    cnt AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_sw
      FROM exf JOIN topf USING (tok) GROUP BY source, tok
    ),
    spine AS (
      SELECT s_tot.source, topf.tok, s_tot.n_s FROM s_tot CROSS JOIN topf
    ),
    fi AS (
      SELECT spine.source, spine.tok,
             CAST(COALESCE(cnt.c_sw, 0) AS HUGEINT)
               * {BURROWS_SCALE} // spine.n_s AS fi
      FROM spine LEFT JOIN cnt
        ON cnt.source = spine.source AND cnt.tok = spine.tok
    ),
    wstat AS (
      SELECT tok,
             CAST(COUNT(*) AS BIGINT) AS s,
             CAST(SUM(fi) AS HUGEINT) AS sfi,
             CAST(SUM(fi * fi) AS HUGEINT) AS sfi2
      FROM fi GROUP BY tok
    ),
    wv AS (
      SELECT tok, s, s * sfi2 - sfi * sfi AS v_w
      FROM wstat WHERE s * sfi2 - sfi * sfi > 0
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, a.tok,
             abs(a.fi - b.fi) AS d_w, wv.v_w, wv.s
      FROM fi a JOIN fi b ON a.tok = b.tok AND a.source < b.source
      JOIN wv ON wv.tok = a.tok
    )
    SELECT src_a, src_b,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(MAX(s) AS DOUBLE)
             * list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                              list(CAST(CAST(d_w AS VARCHAR) AS DOUBLE)
                                   / sqrt(CAST(CAST(v_w AS VARCHAR)
                                               AS DOUBLE))
                                   ORDER BY tok)),
                 (acc, x) -> acc + x)
             / COUNT(*) AS burrows_delta
    FROM pairs GROUP BY src_a, src_b
    """


@register(
    "text_burrows_delta",
    oracle=_burrows_oracle(),
    tags=("llm", "text", "stats"),
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURROWS' DELTA stylometric distance between every source pair —
    the standard authorship/register attribution measure: mean absolute
    difference of the sources' z-scored relative frequencies over the
    top-{F} corpus tokens. Who-wrote-this for corpus forensics: a
    source pair with tiny Delta is stylistically one voice (scraper
    clones, templated spam); a big Delta flags register drift. Exact to
    one sqrt per feature: relative frequencies enter as FIXED-POINT
    integers fi = floor(c_sw * 1e9 / n_s), so each feature's across-
    source variance V_w = S*sum(fi^2) - (sum fi)^2 is an exact integer
    and |z_a - z_b| = S * |fi_a - fi_b| / sqrt(V_w) needs no mean at
    all (it cancels in the difference). Per-pair Delta folds the
    {F}-feature terms in token order (the docs_source_divergence
    ordered-fold doctrine), so the double total is partitioning- and
    engine-independent. Zero-variance features drop identically on
    both engines.

    Scale shape: one token agg for the feature set (top-{F} via one
    TakeOrdered), one (source x {F}) spine — categorical x constant,
    O(1) in data volume — and a pair join over the |sources|-bounded
    frame. Reference basis: SURVEY.md §2.12 text family (absent in
    reference)."""
    d = table(spark, sf_dir, "documents")
    exf = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    topf = (
        exf.groupBy("tok")
        .agg(F.count("*").alias("ct"))
        .orderBy(F.desc("ct"), F.asc("tok"))
        .limit(BURROWS_F)
        .select("tok")
    )
    s_tot = exf.groupBy("source").agg(F.count("*").alias("n_s"))
    cnt = (
        exf.join(F.broadcast(topf), "tok")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c_sw"))
    )
    spine = s_tot.crossJoin(F.broadcast(topf))
    fi = spine.join(cnt, ["source", "tok"], "left").select(
        "source",
        "tok",
        F.expr(
            f"(cast(coalesce(c_sw, 0) as decimal(38,0))"
            f" * {BURROWS_SCALE}) div cast(n_s as decimal(38,0))"
        ).alias("fi"),
    # fi is a |sources| x F frame (tiny) whose plan contains the whole
    # corpus token aggregation; it feeds the variance table and both
    # pair sides, so without the checkpoint the corpus agg runs three
    # times (r13 plan audit: 12 document scans)
    ).localCheckpoint(eager=True)
    wstat = fi.groupBy("tok").agg(
        F.count("*").alias("s"),
        F.sum("fi").alias("sfi"),
        F.sum(F.col("fi").cast("decimal(38,0)") * F.col("fi")).alias("sfi2"),
    )
    wv = wstat.select(
        "tok",
        "s",
        (
            F.col("s").cast("decimal(38,0)") * F.col("sfi2")
            - F.col("sfi").cast("decimal(38,0)") * F.col("sfi")
        ).alias("v_w"),
    ).filter(F.col("v_w") > 0)
    a = fi.select(
        F.col("source").alias("src_a"), "tok", F.col("fi").alias("fi_a")
    )
    b = fi.select(
        F.col("source").alias("src_b"), "tok", F.col("fi").alias("fi_b")
    )
    pairs = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(wv, "tok")
        .select(
            "src_a",
            "src_b",
            "tok",
            F.abs(F.col("fi_a") - F.col("fi_b")).alias("d_w"),
            "v_w",
            "s",
        )
    )
    term = F.col("d_w").cast("string").cast("double") / F.sqrt(
        F.col("v_w").cast("string").cast("double")
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.count("*").alias("n_features"),
        (
            F.max("s").cast("double")
            * F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("tok", term.alias("t")))
                ),
                F.lit(0.0),
                lambda acc, st: acc + st["t"],
            )
            / F.count("*")
        ).alias("burrows_delta"),
    )


text_burrows_delta.__doc__ = text_burrows_delta.__doc__.format(F=BURROWS_F)


# ---------------------------------------------------------------------------
# ROUGE-2 over the qualifying near-dup pairs (multiset bigram overlap)
# ---------------------------------------------------------------------------
@register(
    "docs_rouge2_pairs",
    oracle=f"""
    WITH {{SHINGLE}}, {{JTAIL}},
    qpairs AS (
      SELECT doc_a, doc_b, jac FROM jac WHERE jac >= {JACCARD_THRESHOLD}
    ),
    bt AS (SELECT doc_id, {{TOKENS}} AS ts FROM documents),
    bg AS (
      SELECT doc_id, bgr, CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(ts), 1)),
                 i -> ts[i] || ' ' || ts[i + 1])) AS bgr
        FROM bt
      ) GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nb FROM bg GROUP BY 1
    ),
    ov AS (
      SELECT p.doc_a, p.doc_b, p.jac,
             CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS overlap
      FROM qpairs p
      JOIN bg a ON a.doc_id = p.doc_a
      JOIN bg b ON b.doc_id = p.doc_b AND b.bgr = a.bgr
      GROUP BY 1, 2, 3
    )
    SELECT o.doc_a, o.doc_b, o.jac,
           COALESCE(o.overlap, 0) AS bigram_overlap,
           ta.nb AS n_bigrams_a, tb.nb AS n_bigrams_b,
           CAST(o.overlap AS DOUBLE) / ta.nb AS rouge2_p,
           CAST(o.overlap AS DOUBLE) / tb.nb AS rouge2_r,
           2.0 * o.overlap / (ta.nb + tb.nb) AS rouge2_f
    FROM ov o
    JOIN tot ta ON ta.doc_id = o.doc_a
    JOIN tot tb ON tb.doc_id = o.doc_b
    """.format(
        SHINGLE=_SHINGLE_IDX_CTE.strip(),
        JTAIL=_JACCARD_TAIL_SQL.strip(),
        TOKENS=T.tokens_sql("text"),
    ),
    tags=("dedup", "llm", "text", "join"),
)
def docs_rouge2_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 precision/recall/F1 for every qualifying near-dup pair
    (the dedup_ngram_jaccard pair set, jac >= 0.5) — the MULTISET
    bigram view the set-Jaccard score cannot give: Jaccard counts a
    repeated bigram once, ROUGE-2's sum-of-min counts every
    occurrence, so template spam with heavy internal repetition
    separates from genuine paraphrase at the same Jaccard. Rides the
    SAME prefix-filtered candidate machinery as the dedup family
    (pair generation is never all-pairs), then one bigram-count join
    per pair side: overlap = sum min(c_a, c_b), P/R by each side's
    bigram total, F1 = 2*ov/(na+nb) — pure integer counts, three
    pinned divisions.

    Scale shape (r12 optimization): pair set from the lossless prefix
    filter; the per-pair overlap is a MAP-SIDE multiset intersection —
    each doc's bigram counts are packed into ONE map row
    (map_from_entries over the (doc, bigram) counts), the pair frame
    attaches both maps with two doc-keyed joins, and
    sum-min(map_zip_with) computes the overlap per pair with no
    (pair x bigram) row explosion, no re-aggregation shuffle, and no
    separate totals joins (nb rides the same packed row). The old
    shape shuffled |pairs| x |bigrams_a| exploded rows by
    (doc_b, bigram) and re-grouped them; identical output — overlap =
    sum over common bigrams of least(c_a, c_b) either way, and the
    overlap >= 1 filter reproduces the inner bigram-join's membership
    (matched pairs always share >= 1 bigram). Reference basis:
    SURVEY.md §2.12 dedup/text family (absent in reference)."""
    docs = table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", JACCARD_THRESHOLD
    ).select(
        F.col("doc_a"), F.col("doc_b"), F.col("jac")
    )
    ts = docs.select("doc_id", T.tokens(F.col("text")).alias("ts"))
    bgm = (
        ts.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("ts") >= 2,
                    F.expr(
                        "transform(sequence(0, size(ts) - 2), "
                        "i -> concat(element_at(ts, i + 1), ' ', "
                        "element_at(ts, i + 2)))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("bgr"),
        )
        .groupBy("doc_id", "bgr")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bgr", "c"))
            ).alias("m"),
            F.sum("c").alias("nb"),
        )
        # bgm feeds BOTH pair sides — checkpoint so the bigram
        # explode+count+pack runs once, not twice (the
        # graph_bipartite_squares lesson; r13 plan audit: 10 document
        # scans without a fence here)
        .localCheckpoint(eager=True)
    )
    # corpus-sized docset sides: SHUFFLE_HASH like the jaccard verify —
    # one map row per doc is never broadcastable at 100 TB
    ma = bgm.select(
        F.col("doc_id").alias("doc_a"),
        F.col("m").alias("m_a"),
        F.col("nb").alias("n_bigrams_a"),
    ).hint("shuffle_hash")
    mb = bgm.select(
        F.col("doc_id").alias("doc_b"),
        F.col("m").alias("m_b"),
        F.col("nb").alias("n_bigrams_b"),
    ).hint("shuffle_hash")
    # multiset intersection size: sum over the key union of
    # least(c_a, c_b) with one-sided keys contributing 0 (F.least would
    # SKIP the null, not zero it, hence the explicit when)
    overlap = F.aggregate(
        F.map_values(
            F.map_zip_with(
                "m_a",
                "m_b",
                lambda _k, va, vb: F.when(
                    va.isNull() | vb.isNull(), F.lit(0).cast("long")
                ).otherwise(F.least(va, vb)),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .withColumn("overlap", overlap)
        .filter(F.col("overlap") >= 1)
        .select(
            "doc_a",
            "doc_b",
            "jac",
            F.col("overlap").alias("bigram_overlap"),
            "n_bigrams_a",
            "n_bigrams_b",
            (
                F.col("overlap").cast("double") / F.col("n_bigrams_a")
            ).alias("rouge2_p"),
            (
                F.col("overlap").cast("double") / F.col("n_bigrams_b")
            ).alias("rouge2_r"),
            (
                F.lit(2.0) * F.col("overlap")
                / (F.col("n_bigrams_a") + F.col("n_bigrams_b"))
            ).alias("rouge2_f"),
        )
    )
