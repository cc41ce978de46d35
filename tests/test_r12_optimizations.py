"""Focused equivalence tests for the r12 OPTIMIZATION-round rewrites.

Every change this round is a physical-plan/shape change that must leave
query results bit-identical; each test here pins one rewrite against the
formulation it replaced (rebuilt inline), on inputs chosen to exercise
the rewrite's edge cases (ties, duplicates, caps, long docs).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1. Packed-docset prefix Jaccard (+ PPJoin positional filter)
# ---------------------------------------------------------------------------
def test_packed_prefix_jaccard_matches_windowed_formulation(spark):
    """The packed pipeline (one sorted-array aggregation + positional
    filter) must emit exactly the pairs of the old window-ranked
    formulation — on a corpus built to maximize order ties (many
    shingles sharing one document frequency) and containment shapes."""
    from real_value_etl_spark.operators.dedup import (
        _docset_sides,
        ngram_jaccard_pairs,
        prefix_filtered_candidates,
        shingle_index,
    )

    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),          # exact dup of 1
        (3, "a b c d e f g x"),          # near dup
        (4, "x y z w q r s t"),
        (5, "x y z w q r s u"),          # near dup of 4
        (6, "p q r s"),                  # short; length filter territory
        (7, "m n o p q r s t u v w x y z a b c d e f"),  # long superset-ish
        (8, "solo text nothing shared here at all ok"),
        (9, "a b c"),                    # single shingle
        (10, "a b c"),                   # its dup
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])

    new = {
        (r.doc_a, r.doc_b, r.jac)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", 0.5).collect()
    }

    idx = shingle_index(d, "doc_id", "text")
    cands = prefix_filtered_candidates(idx, 0.5)
    a, b, inter = _docset_sides(idx)
    old = {
        (r.doc_a, r.doc_b, r.jac)
        for r in (
            cands.join(a, "doc_a")
            .join(b, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                (inter / (F.col("n_a") + F.col("n_b") - inter)).alias("jac"),
            )
            .filter(F.col("jac") >= 0.5)
        ).collect()
    }
    assert new == old and len(new) >= 3


def test_positional_filter_prunes_but_loses_nothing(spark, sf_dir):
    """The PPJoin positional bound must strictly prune candidate pairs
    (the scale claim) while the verified pair set stays identical to the
    unfiltered full join (the losslessness claim)."""
    from real_value_etl_spark.operators.dedup import (
        _packed_prefix_docsets,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_full,
        shingle_index,
    )
    from real_value_etl_spark.queries.registry import table

    d = table(spark, sf_dir, "documents")
    primary = {
        (r.doc_a, r.doc_b, round(r.jac, 12))
        for r in ngram_jaccard_pairs(d, "doc_id", "text", 0.5).collect()
    }
    full = {
        (r.doc_a, r.doc_b, round(r.jac, 12))
        for r in ngram_jaccard_pairs_full(d, "doc_id", "text", 0.5).collect()
    }
    assert primary == full and len(primary) > 0

    # pruning: candidates WITH the positional bound < candidates without
    packed = _packed_prefix_docsets(shingle_index(d, "doc_id", "text"), 0.5)
    pf = packed.select(
        "did",
        "n",
        F.posexplode(F.slice("shs", F.lit(1), F.col("p"))).alias("pos", "sh"),
    )
    a, b = pf.alias("a"), pf.alias("b")
    base = (
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.did") < F.col("b.did"))
        & (F.col("b.n") >= 0.5 * F.col("a.n"))
        & (F.col("a.n") >= 0.5 * F.col("b.n"))
    )
    ub = F.lit(1.0) + F.least(
        F.col("a.n") - F.col("a.pos") - 1, F.col("b.n") - F.col("b.pos") - 1
    )
    without = a.join(b, base).select("a.did", "b.did").distinct().count()
    with_pos = (
        a.join(b, base & (F.lit(1.5) * ub >= F.lit(0.5) * (F.col("a.n") + F.col("b.n"))))
        .select("a.did", "b.did")
        .distinct()
        .count()
    )
    assert with_pos < without, "positional filter pruned nothing"


# ---------------------------------------------------------------------------
# 2. Star CC without the intermediate large-star distinct
# ---------------------------------------------------------------------------
def test_star_cc_matches_minlabel_on_deep_and_duplicated_graph(spark):
    """connected_components_star (now without the per-round ls.distinct())
    must agree with min-label propagation on a graph whose large-star
    rounds emit duplicate edges: chains + a hub + duplicate input edges."""
    from real_value_etl_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    edges = (
        [(i, i + 1) for i in range(1, 15)]        # deep chain 1..15
        + [(100, x) for x in (101, 102, 103, 104, 105)]  # star hub
        + [(104, 105), (101, 102)]                # extra intra-star edges
        + [(200, 201), (201, 200), (200, 201)]    # duplicates both ways
        + [(300, 300)]                            # isolated self-loop
    )
    e = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    star = {
        (r.node, r.component)
        for r in connected_components_star(e, "doc_a", "doc_b").collect()
    }
    minl = {
        (r.node, r.component)
        for r in connected_components(e, "doc_a", "doc_b", max_iterations=40).collect()
    }
    assert star == minl
    assert (300, 300) in star  # isolated self-loop kept


# ---------------------------------------------------------------------------
# 3. Posting-list pair expansion (span pairs / tf-idf dbuckets)
# ---------------------------------------------------------------------------
def test_posting_expansion_matches_self_join(spark):
    """The sorted posting-list pair expansion must enumerate exactly the
    a < b pairs (with multiplicities) of the self-join it replaced."""
    rows = [
        (1, "k1"), (2, "k1"), (3, "k1"), (4, "k1"),   # 4-doc posting
        (1, "k2"), (2, "k2"),                         # pair posting
        (5, "k3"),                                    # singleton: no pairs
        (1, "k4"), (2, "k4"),                         # repeat pair (1,2)
    ]
    idx = spark.createDataFrame(rows, ["did", "sh"])
    a = idx.select(F.col("did").alias("doc_a"), "sh")
    b = idx.select(F.col("did").alias("doc_b"), "sh")
    joined = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n"))
    )
    posts = (
        idx.groupBy("sh")
        .agg(F.sort_array(F.collect_list("did")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    expanded = (
        posts.select(
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
        .groupBy(
            F.col("pr.doc_a").alias("doc_a"), F.col("pr.doc_b").alias("doc_b")
        )
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, expanded.collect())
    )
    # (1,2) shares k1, k2, k4 -> multiplicity 3 must survive the expansion
    assert (1, 2, 3) in {tuple(r) for r in expanded.collect()}


# ---------------------------------------------------------------------------
# 4. Suffix view truncation (25 tokens always cover the 48-char view)
# ---------------------------------------------------------------------------
def test_suffix_token_cap_is_exact(spark):
    """slice(ws, i, 25) + substring(1, 48) must equal the full-tail concat
    + substring for every suffix position, including single-char tokens
    (worst case: 2 chars contributed per token) and doc tails shorter
    than the cap."""
    texts = [
        " ".join(["a"] * 60),                      # 60 single-char tokens
        " ".join(f"tok{i}" for i in range(40)),    # normal tokens
        "one two three",                           # shorter than the cap
    ]
    d = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    wt = d.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("ws")
    ).filter(F.size("ws") >= 1)
    pos = wt.select(
        "doc_id", "ws", F.explode(F.sequence(F.lit(1), F.size("ws"))).alias("i")
    )
    both = pos.select(
        "doc_id",
        "i",
        F.substring(
            F.concat_ws(" ", F.expr("slice(ws, i, size(ws) - i + 1)")), 1, 48
        ).alias("full"),
        F.substring(F.concat_ws(" ", F.expr("slice(ws, i, 25)")), 1, 48).alias(
            "capped"
        ),
    )
    assert both.filter(F.col("full") != F.col("capped")).count() == 0


# ---------------------------------------------------------------------------
# 5. Map-side multiset bigram overlap (docs_rouge2_pairs)
# ---------------------------------------------------------------------------
def test_map_multiset_overlap_matches_join_formulation(spark):
    """sum-min over map_zip_with of the per-doc bigram-count maps must
    equal the (pair x bigram) join + sum(least) it replaced — including
    repeated bigrams (multiset counts), one-sided bigrams (contribute
    0), and zero-overlap pairs (dropped by the join, dropped by the
    overlap >= 1 filter)."""
    bg_rows = [
        # doc 1: "a b" x3, "b a" x2, "c d" x1
        (1, "a b", 3), (1, "b a", 2), (1, "c d", 1),
        # doc 2: "a b" x1, "b a" x5, "e f" x2  -> overlap with 1: 1+2=3
        (2, "a b", 1), (2, "b a", 5), (2, "e f", 2),
        # doc 3: no shared bigrams with 1      -> zero-overlap pair
        (3, "x y", 4), (3, "y x", 1),
        # doc 4: equal counts everywhere       -> overlap = all of doc 1
        (4, "a b", 3), (4, "b a", 2), (4, "c d", 1),
    ]
    bg = spark.createDataFrame(bg_rows, ["doc_id", "bgr", "c"]).select(
        "doc_id", "bgr", F.col("c").cast("long").alias("c")
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], ["doc_a", "doc_b"]
    )

    a = bg.select(F.col("doc_id").alias("doc_a"), "bgr", F.col("c").alias("ca"))
    b = bg.select(F.col("doc_id").alias("doc_b"), "bgr", F.col("c").alias("cb"))
    joined = {
        tuple(r)
        for r in (
            pairs.join(a, "doc_a")
            .join(b, ["doc_b", "bgr"])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.least("ca", "cb")).alias("overlap"))
        ).collect()
    }

    bgm = bg.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("bgr", "c"))).alias("m")
    )
    ma = bgm.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("m_a"))
    mb = bgm.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("m_b"))
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
    mapped = {
        tuple(r)
        for r in (
            pairs.join(ma, "doc_a")
            .join(mb, "doc_b")
            .withColumn("overlap", overlap)
            .filter(F.col("overlap") >= 1)
            .select("doc_a", "doc_b", "overlap")
        ).collect()
    }
    assert joined == mapped
    assert (1, 2, 3) in mapped          # multiset: 1 + 2, not 2 matches
    assert (1, 4, 6) in mapped          # full self-overlap of doc 1
    assert not any(p[:2] == (1, 3) for p in mapped)  # zero-overlap dropped


# ---------------------------------------------------------------------------
# 6. XOR-bit-flip hamming pairs (multimodal_phash_dedup)
# ---------------------------------------------------------------------------
def test_xor_enum_hamming_pairs_match_banded_join(spark):
    """The XOR-bit-flip enumeration must emit exactly the banded join's
    hamming <= 1 pairs — including hamming-0 groups (identity variant),
    hamming-1 (every bit position), hamming-2 exclusions that still
    share a band (the banded join's candidates the filter removed), and
    NO duplicate rows without a distinct (unique bit decomposition)."""
    hashes = [
        (1, 0x00FF), (2, 0x00FF),            # hamming 0 pair
        (3, 0x00FE),                         # hamming 1 vs 1/2 (bit 0)
        (4, 0x80FF),                         # hamming 1 vs 1/2 (bit 15)
        (5, 0x03FF),                         # hamming 2 vs 1/2: same low band
        (6, 0x1234), (7, 0x1235), (8, 0x1234),  # another cluster
        (9, 0x0F0F),                         # isolated
    ]
    ph = spark.createDataFrame(hashes, ["doc_id", "phash"]).select(
        "doc_id", F.col("phash").cast("long").alias("phash")
    )

    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), (F.col("phash") % 256).alias("bkey")),
                F.struct(F.lit(1).alias("band"), F.shiftright("phash", 8).alias("bkey")),
            )
        ).alias("bk"),
    ).select("doc_id", "phash", "bk.band", "bk.bkey")
    x, y = bands.alias("x"), bands.alias("y")
    banded = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("x.phash").alias("ph_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("y.phash").alias("ph_b"),
        )
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 1)
    )

    var = ph.select(
        F.col("doc_id").alias("doc_b"),
        F.col("phash").alias("ph_b"),
        F.explode(
            F.array(
                F.col("phash"),
                *[F.col("phash").bitwiseXOR(F.lit(1 << k)) for k in range(16)],
            )
        ).alias("vkey"),
    )
    enum_rows = (
        ph.alias("x")
        .join(
            var,
            (F.col("x.phash") == F.col("vkey"))
            & (F.col("x.doc_id") < F.col("doc_b")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            "doc_b",
            F.bit_count(F.col("x.phash").bitwiseXOR(F.col("ph_b")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 1)
    ).collect()

    banded_set = {tuple(r) for r in banded.collect()}
    assert {tuple(r) for r in enum_rows} == banded_set
    # no distinct needed: the enumeration emits each pair exactly once
    assert len(enum_rows) == len(banded_set)
    assert (1, 2, 0) in banded_set          # hamming-0 via identity variant
    assert (1, 4, 1) in banded_set          # top-bit flip crosses bands
    assert not any(r[:2] == (1, 5) for r in banded_set)  # hamming-2 dropped


# ---------------------------------------------------------------------------
# 7. Radius search norm hoist
# ---------------------------------------------------------------------------
def test_radius_norm_hoist_is_bit_identical(spark):
    """dot/(nv*nq) with hoisted norms must equal cosine(v, qv) computed
    per pair, bitwise (same IEEE ops on the same inputs)."""
    from real_value_etl_spark.functions.vectors import cosine, dot, norm

    rows = [
        (i, [((i * 7 + j * 13) % 17 - 8) / 7.3 for j in range(8)])
        for i in range(1, 30)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "v"]).select(
        "vec_id", F.col("v").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    per_pair = emb.crossJoin(q).select(
        "qid", "vec_id", cosine(F.col("v"), F.col("qv")).alias("sim")
    )
    hoisted = (
        emb.withColumn("nv", norm(F.col("v")))
        .crossJoin(
            q.withColumn("nq", norm(F.col("qv")))
        )
        .select(
            "qid",
            "vec_id",
            (dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))).alias(
                "sim"
            ),
        )
    )
    merged = per_pair.alias("x").join(
        hoisted.alias("y"), ["qid", "vec_id"]
    )
    assert (
        merged.filter(F.col("x.sim") != F.col("y.sim")).count() == 0
    )
