"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference's only dedup is pandas ``drop_duplicates(keep='first')``
(reference src/etl/transformation.py:224-228, :395 — SURVEY.md §2.7 D1/D2);
everything else here is the north-star LLM-pipeline surface (SURVEY §2.12).

Scale design (100 TB):
- exact dedup: one hash-shuffle on the digest; map-side partial agg shrinks
  the shuffle to (#distinct) rows. Keep-first is a window over the digest —
  same single shuffle.
- MinHash+LSH: signatures are computed in one hash-aggregate over exploded
  shingles (k min-aggregations share the shuffle); candidate generation
  joins on (band, band_key) so only same-bucket docs ever meet — no O(n^2)
  cross join anywhere. Verification re-joins candidates to the shingle
  inverted index (shuffle on shingle, then on pair).
- SimHash: 32 conditional-sum aggregations over one exploded pass; banding
  on 8-bit fingerprint slices bounds candidate pairs.
- All arithmetic is int64 Catalyst expressions (no UDFs) and every constant
  is shared with the DuckDB oracle mirrors in functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    minhash_expr,
    portable_hash32,
    shingles_from_tokens,
    tokens,
)


def exact_dedup_keepfirst(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """Keep the first row per key (deterministic: explicit order columns).

    Spark-native form of the reference's drop_duplicates(keep='first') —
    one shuffle on `keys`; at scale prefer orderBy columns with high
    selectivity so the window sort stays cheap per group.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group rows by content digest: (text_hash, keeper_id, n_dups).

    md5 digest => shuffle keys are 32-byte strings regardless of document
    size; partial aggregation makes the shuffle O(#groups).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_dups"),
        )
    )


def shingle_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exploded (id, shingle) inverted index — the base relation for both
    exact-Jaccard and MinHash paths.

    Two-step projection: tokenize once into a materialized array column,
    THEN build shingles from the reference — avoids Catalyst re-inlining
    the split into every element_at (measured ~20x on the bench corpus).
    """
    return (
        df.select(
            F.col(id_col).alias("did"), tokens(F.col(text_col)).alias("__toks")
        )
        .select("did", F.explode(shingles_from_tokens(F.col("__toks"))).alias("sh"))
    )


def _pair_jaccard(
    idx: DataFrame, candidates: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, jac) for candidate pairs (or all pairs sharing >= 1
    shingle when candidates is None). jac is computed with ONE double
    division so the oracle matches bit-exactly.

    With candidates, the intersection is computed by expanding ONLY the
    candidate pairs against the index (cands ⋈ idx_a ⋈ idx_b) — cost scales
    with |candidates| x shingles/doc, never with the full pair space. This
    is what keeps LSH verification cheap at scale (and it is ~10x faster
    than aggregating all colliding pairs then semi-joining).
    """
    sizes = idx.groupBy("did").agg(F.count("*").alias("n"))
    if candidates is None:
        a = idx.alias("a")
        b = idx.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh")) & (F.col("a.did") < F.col("b.did")),
            )
            .groupBy(F.col("a.did").alias("doc_a"), F.col("b.did").alias("doc_b"))
            .agg(F.count("*").alias("inter"))
        )
    else:
        a_sh = candidates.join(
            idx.select(F.col("did").alias("doc_a"), "sh"), "doc_a"
        )
        pairs = (
            a_sh.join(
                idx.select(F.col("did").alias("doc_b"), "sh"), ["doc_b", "sh"]
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    na = sizes.select(F.col("did").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("did").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("double").alias("inter_d"),
            "n_a",
            "n_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter_d") / (F.col("n_a") + F.col("n_b") - F.col("inter_d"))).alias(
                "jac"
            ),
        )
    )


def ngram_jaccard_pairs_full(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard pairs via the FULL inverted-index self-join. Correct,
    but skew-fragile at scale: one viral shingle (boilerplate, empty
    string) pairs every two docs containing it — a quadratic partition at
    100 TB. Kept as the baseline the prefix-filtered primary is verified
    against; prefer `ngram_jaccard_pairs`."""
    idx = shingle_index(df, id_col, text_col)
    return _pair_jaccard(idx).filter(F.col("jac") >= threshold)


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """k=16 minhash signature columns mh0..mh15 per document, one aggregate
    pass over the exploded shingle hashes."""
    idx = shingle_index(df, id_col, text_col).select(
        "did", portable_hash32(F.col("sh")).alias("h")
    )
    aggs = [
        F.min(minhash_expr(F.col("h"), i)).alias(f"mh{i}") for i in range(MINHASH_K)
    ]
    return idx.groupBy("did").agg(*aggs)


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Banded-LSH candidates: docs sharing any of the 8 (2-row) band keys.

    Implemented as explode-to-(band, k1, k2) then a self-equi-join — a
    plain shuffled hash join, never a cross join. The band key stays as
    the RAW minhash integers (join on three long columns) instead of a
    concatenated string: integer keys hash/compare without allocation,
    measured -22% on the full LSH pipeline at sf0.1.
    """
    bands = sig.select(
        "did",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[
                            F.col(f"mh{b * LSH_ROWS + r}").alias(f"k{r}")
                            for r in range(LSH_ROWS)
                        ],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        "did",
        F.col("bk.band").alias("band"),
        *[F.col(f"bk.k{r}").alias(f"k{r}") for r in range(LSH_ROWS)],
    )
    x = bands.alias("x")
    y = bands.alias("y")
    key_eq = (F.col("x.band") == F.col("y.band")) & (F.col("x.did") < F.col("y.did"))
    for r in range(LSH_ROWS):
        key_eq = key_eq & (F.col(f"x.k{r}") == F.col(f"y.k{r}"))
    return (
        x.join(y, key_eq)
        .select(F.col("x.did").alias("doc_a"), F.col("y.did").alias("doc_b"))
        .distinct()
    )


def _minhash_sig(idx: DataFrame) -> DataFrame:
    """k=MINHASH_K minhash signature columns mh0..mh15 from a shingle
    index — the shared signature build of `minhash_lsh_pairs` and
    `containment_pairs` (extracted per ADVICE r3: a MINHASH_P-style fix
    must land in exactly one place)."""
    return (
        idx.select("did", portable_hash32(F.col("sh")).alias("h"))
        .groupBy("did")
        .agg(
            *[
                F.min(minhash_expr(F.col("h"), i)).alias(f"mh{i}")
                for i in range(MINHASH_K)
            ]
        )
    )


def _docset_sides(idx: DataFrame) -> tuple[DataFrame, DataFrame, Column]:
    """(a, b, inter) verification scaffolding shared by every
    set-at-a-time verify join: per-doc collected shingle arrays renamed
    for the two join sides, SHUFFLE_HASH-pinned (the docset side is
    corpus-sized — never broadcastable at 100 TB), and the narrow
    `array_intersect` size as a double."""
    docsets = idx.groupBy("did").agg(
        F.collect_list("sh").alias("shs"), F.count("*").alias("n")
    )
    a = docsets.select(
        F.col("did").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n").alias("n_a"),
    ).hint("shuffle_hash")
    b = docsets.select(
        F.col("did").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n").alias("n_b"),
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b"))).cast(
        "double"
    )
    return a, b, inter


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature -> banded candidates ->
    exact-Jaccard verification >= threshold (verification only touches
    candidate pairs, which is what makes this the 100 TB path).

    Verification is SET-AT-A-TIME like the prefix-Jaccard path: each
    doc's shingle set is collected once, candidates join the two arrays
    (SHUFFLE_HASH-pinned — the docset side is corpus-sized, never
    broadcastable at 100 TB), and the intersection is one narrow
    `array_intersect`. Nothing is persisted: the shingle index's two
    consumers (signatures, docsets) recompute the cheap explode inside
    their own pipelined stages — zero pinned memory, and measured ~35%
    faster end-to-end at sf0.1 than the persist-everything variant
    (persist serialization costs more than one extra explode). jac is
    the same single double-division as `_pair_jaccard`, bit-identical
    to the oracle."""
    idx = shingle_index(df, id_col, text_col)
    cands = lsh_candidate_pairs(_minhash_sig(idx))
    a, b, inter = _docset_sides(idx)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter / (F.col("n_a") + F.col("n_b") - inter)).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per doc: bit j is set iff sum over shingles of
    (+1 if hash bit j else -1) is positive. One exploded aggregate pass."""
    idx = shingle_index(df, id_col, text_col).select(
        "did", portable_hash32(F.col("sh")).alias("h")
    )
    bit_sums = [
        F.sum(
            (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{j}")
        for j in range(32)
    ]
    sums = idx.groupBy("did").agg(*bit_sums)
    fp: Column = F.lit(0).cast("long")
    for j in range(32):
        fp = fp + F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return sums.select("did", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 8-bit bands of
    the fingerprint (pigeonhole: hamming<=4 implies one identical band; wider
    distances trade recall for candidate count), verified by popcount.

    The fingerprint frame feeds both sides of the band self-join. Like the
    shingle index in the Jaccard/LSH paths it is NOT persisted: the two
    consumers recompute the exploded 32-sum aggregation inside their own
    pipelined stages, pinning zero memory, and the cache-honest bench
    measures recompute ≈ persist at sf0.1 (the persist's win in earlier
    rounds was cross-RUN cache reuse, not within-plan reuse)."""
    fps = simhash_fingerprints(df, id_col, text_col)
    bands = fps.select(
        "did",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("bkey"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("did", "simhash", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    x = bands.alias("x")
    y = bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.did") < F.col("y.did")),
        )
        .select(
            F.col("x.did").alias("doc_a"),
            F.col("y.did").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def prefix_filtered_candidates(idx: DataFrame, threshold: float) -> DataFrame:
    """AllPairs/PPJoin-style prefix filtering over the shingle index:
    candidate pairs for Jaccard >= t from a join over PREFIXES only.

    Order every doc's shingles by a global total order (document frequency
    ascending, then shingle — rare-first minimizes postings) and keep only
    the first p = n - ceil(t*n) + 1. Lossless: a pair with jac >= t has
    |intersection| >= t*max(n_a, n_b), so fewer than t*n common shingles
    fit in either suffix — some common shingle is in each doc's prefix,
    and the globally SMALLEST common shingle must be in BOTH prefixes
    (prefixes hold each doc's smallest elements). Joining prefixes with
    rare shingles first shrinks candidates vs the full inverted-index
    join while missing nothing; the exact verify pass computes true
    Jaccard on candidates only.
    """
    dfreq = idx.groupBy("sh").agg(F.count("*").alias("df"))
    # rank (rare-first) and doc size share ONE did-shuffle: both windows
    # partition by did, so Catalyst plans a single exchange for them
    order = Window.partitionBy("did").orderBy("df", "sh")
    prefix = (
        idx.join(dfreq, "sh")
        .withColumn("rn", F.row_number().over(order))
        .withColumn("n", F.count("*").over(Window.partitionBy("did")))
        .filter(
            F.col("rn")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        )
        .select("did", "sh", "n")
    )
    # AllPairs length filter: jac >= t forces |inter| >= t*max(n_a, n_b)
    # and |inter| <= min(n_a, n_b), so t*n_a <= n_b and t*n_b <= n_a —
    # docs whose sizes differ more than 1/t can never qualify and are
    # pruned inside the join, before the candidate ever materializes
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.did") < F.col("b.did"))
            & (F.col("b.n") >= F.lit(threshold) * F.col("a.n"))
            & (F.col("a.n") >= F.lit(threshold) * F.col("b.n")),
        )
        .select(F.col("a.did").alias("doc_a"), F.col("b.did").alias("doc_b"))
        .distinct()
    )


def _packed_prefix_docsets(idx: DataFrame, threshold: float) -> DataFrame:
    """PACKED per-doc docsets for the prefix-filter family (r12
    optimization): ONE aggregation produces, per document, the shingle
    array sorted by the AllPairs total order (document frequency
    ascending, then shingle), the doc size n, and the prefix length
    p = n - ceil(t*n) + 1. The window variant this replaces sorted the
    FULL exploded index inside a per-doc window (a corpus-wide sort per
    consumer); here the global sort collapses to a per-row `sort_array`
    over each doc's own shingles — same total order, same prefix set —
    and the SAME frame serves candidate generation (explode the first p
    elements) and verification (array_intersect over the full array), so
    the doc-size/prefix/verify passes stop being three distinct
    aggregation shapes. Local wall-clock is ~neutral (exchange reuse
    already deduplicated the old form's repeated passes); the win is
    the scale shape: per-row sort_array instead of a corpus-wide window
    sort per candidate side."""
    dfreq = idx.groupBy("sh").agg(F.count("*").alias("df"))
    return (
        idx.join(dfreq, "sh")
        .groupBy("did")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "sh"))).alias("ord"),
            F.count("*").alias("n"),
        )
        .select(
            "did",
            F.col("ord.sh").alias("shs"),
            "n",
            (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
            .cast("int")
            .alias("p"),
        )
    )


def _packed_pair_tail(
    packed: DataFrame, threshold: float
) -> tuple[DataFrame, Column]:
    """(cands ⋈ docset_a ⋈ docset_b, inter) tail shared by the packed
    Jaccard path: prefix-exploded candidate self-join with the AllPairs
    length filter, then the set-at-a-time verify join. The docset joins
    keep the SHUFFLE_HASH pin — the packed side is corpus-sized (one row
    per doc holding its full shingle array), never broadcastable at
    100 TB."""
    # r12: the candidate self-join matches on xxhash64(sh), not the
    # shingle string — equal strings hash equal, so every string-match
    # survives (candidate completeness is untouched); a 64-bit collision
    # can only ADD a spurious candidate, which the exact string-array
    # verify below discards. The join's shuffle rows shrink from a
    # ~20-30 byte UTF8 shingle to an 8-byte long on BOTH sides of the
    # hottest exchange (guide §2.3: shuffle keys, not payloads), and the
    # join compares longs instead of strings. Prefix sets and the
    # (df, sh) total order are byte-identical to before.
    pf = packed.select(
        "did",
        "n",
        F.posexplode(F.slice("shs", F.lit(1), F.col("p"))).alias(
            "pos", "sh"
        ),
    ).select("did", "n", "pos", F.xxhash64("sh").alias("sh"))
    a, b = pf.alias("a"), pf.alias("b")
    # PPJoin POSITIONAL filter (Xiao et al. 2008, public algorithm), on
    # top of the AllPairs length filter: for the smallest common shingle
    # of a qualifying pair (which the prefix lemma guarantees sits in
    # BOTH prefixes), every other common shingle follows it in both
    # sorted arrays, so |inter| <= 1 + min(n_a - pa, n_b - pb) at its
    # positions pa/pb — and jac >= t forces |inter| >= t/(1+t)*(na+nb).
    # Rows violating the bound cannot be that smallest-common match, so
    # dropping them loses no qualifying pair; non-qualifying pairs whose
    # every match violates it never reach the (array-carrying) verify
    # join. pos is 0-based: n - pa = n - pos - 1.
    ub = F.lit(1.0) + F.least(
        F.col("a.n") - F.col("a.pos") - 1, F.col("b.n") - F.col("b.pos") - 1
    )
    cands = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.did") < F.col("b.did"))
            # AllPairs length filter: jac >= t forces t*n_a <= n_b and
            # t*n_b <= n_a — size-incompatible docs never materialize
            & (F.col("b.n") >= F.lit(threshold) * F.col("a.n"))
            & (F.col("a.n") >= F.lit(threshold) * F.col("b.n"))
            & (
                F.lit(1.0 + threshold) * ub
                >= F.lit(threshold) * (F.col("a.n") + F.col("b.n"))
            ),
        )
        .select(F.col("a.did").alias("doc_a"), F.col("b.did").alias("doc_b"))
        .distinct()
    )
    sa = packed.select(
        F.col("did").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n").alias("n_a"),
    ).hint("shuffle_hash")
    sb = packed.select(
        F.col("did").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n").alias("n_b"),
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b"))).cast(
        "double"
    )
    return cands.join(sa, "doc_a").join(sb, "doc_b"), inter


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """Exact n-gram (3-word shingle) Jaccard near-dup pairs >= threshold.

    AllPairs prefix filtering: candidates only join on each doc's
    rare-first prefix (~8.5% of the full index join at sf0.01, and —
    decisively at 100 TB — viral shingles land in almost no prefixes, so
    the quadratic hot-shingle partition of the naive inverted-index join
    never forms). Output is bit-identical to `ngram_jaccard_pairs_full`:
    prefix filtering is lossless for Jaccard >= t (proof in
    `prefix_filtered_candidates`).

    r12 shape: everything reads ONE packed docset frame
    (`_packed_prefix_docsets`) — candidate generation explodes each doc's
    p-element prefix slice, verification is a narrow `array_intersect`
    over the same frame's full arrays. The prefix set and the candidate
    join condition are bit-identical to the window-ranked formulation
    (sort_array over struct(df, sh) is the same (df, sh) total order the
    window used; ties are impossible — (did, sh) is distinct), so the
    output is unchanged; what changed is the physical shape: no
    corpus-wide window sort per consumer, one aggregation shape instead
    of three.

    The packed frame is NOT persisted by default: its consumers (two
    candidate sides, two verify sides) recompute the explode+pack inside
    their own pipelined stages — zero pinned memory, the same
    recompute-over-persist policy as before (measured ~equal at sf0.1,
    and at 100 TB a MEMORY_AND_DISK copy of the packed corpus would hold
    cluster memory for the session)."""
    idx = shingle_index(df, id_col, text_col)
    packed = _packed_prefix_docsets(idx, threshold)
    verified, inter = _packed_pair_tail(packed, threshold)
    return verified.select(
        "doc_a",
        "doc_b",
        (inter / (F.col("n_a") + F.col("n_b") - inter)).alias("jac"),
    ).filter(F.col("jac") >= threshold)


def containment_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """Asymmetric CONTAINMENT pairs over banded-LSH candidates:
    cont_a = |A ∩ B| / |A| and cont_b = |A ∩ B| / |B|, kept where either
    side >= threshold.

    Jaccard misses the quote/subset case: a short document fully embedded
    in a long one has tiny Jaccard (union is dominated by the long doc)
    but containment ~1.0 on the short side — the signal that catches
    quotations, boilerplate-wrapped reposts, and truncated copies.
    Candidates come from the same banded MinHash-LSH join as
    `minhash_lsh_pairs` (recall note: LSH banding targets symmetric
    resemblance, so a tiny-in-huge embed can escape banding; the
    candidates it does surface are exactly the near-resemblance +
    asymmetric-size pairs this measure disambiguates). Verification is
    set-at-a-time `array_intersect` on the collected shingle sets —
    O(|candidates|), no re-expansion, SHUFFLE_HASH-pinned like the
    Jaccard verify (the docset side is corpus-sized — never
    broadcastable at 100 TB). The index follows the same no-persist
    default as `ngram_jaccard_pairs` (two consumers recompute the cheap
    explode inside their own stages).
    """
    idx = shingle_index(df, id_col, text_col)
    cands = lsh_candidate_pairs(_minhash_sig(idx))
    a, b, inter = _docset_sides(idx)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter / F.col("n_a")).alias("cont_a"),
            (inter / F.col("n_b")).alias("cont_b"),
        )
        .filter(
            F.greatest(F.col("cont_a"), F.col("cont_b")) >= F.lit(threshold)
        )
    )
