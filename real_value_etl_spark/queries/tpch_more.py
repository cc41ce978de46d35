"""Additional TPC-H-shaped relational queries (Q10/Q14/Q18/Q19 analogues on
the driver's star schema) — widening the oracle-checked join/agg evidence.

Same conventions as relational.py: exact-decimal double aggregation,
aliased columns, deterministic tiebreaks on keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register, table
from .relational import _dsum_expr


# ---------------------------------------------------------------------------
# Q10 — returned-item revenue by customer (join + agg + top-k)
# ---------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey AS c_custkey,
           c.c_name AS c_name,
           n.n_name AS n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-item revenue: customer+nation broadcast,
    one shuffled join (orders x lineitem), TakeOrderedAndProject top-k."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _dsum_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q14 — promo revenue share (conditional aggregation over a join)
# ---------------------------------------------------------------------------
@register(
    "q14_promo_share",
    oracle="""
    SELECT
      100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
          THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))
          ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
        / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))) AS DOUBLE)
        AS promo_share,
      COUNT(*) AS n_rows
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
    tags=("join", "agg", "conditional"),
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue percentage: conditional CASE aggregation; part is
    broadcast, single pass, exact-decimal numerator and denominator."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev.cast("decimal(28,6)")).otherwise(
        F.lit(0).cast("decimal(28,6)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / _dsum_expr(rev)
            ).alias("promo_share"),
            F.count("*").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Q18 — large-quantity orders (agg-derived IN filter / join on aggregate)
# ---------------------------------------------------------------------------
@register(
    "q18_large_orders",
    oracle="""
    SELECT c.c_name AS c_name,
           c.c_custkey AS c_custkey,
           o.o_orderkey AS o_orderkey,
           o.o_orderdate AS o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    tags=("join", "agg", "in_subquery", "topk"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 150: the IN-subquery aggregate
    becomes a semi join against a pre-aggregated key set (no re-scan per
    row); one shuffle on orderkey reused by both aggregates."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        l.join(big.withColumnRenamed("l_orderkey", "bk"), F.col("l_orderkey") == F.col("bk"), "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty")
        )
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier(s) by revenue (derived aggregate + scalar max)
# ---------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name, r.total_rev AS total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    tags=("join", "agg", "scalar", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers hitting the max quarterly revenue: the derived aggregate is
    reused for both the join and the scalar max (equality on the identical
    exact-decimal double is safe)."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        _dsum_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_rev"
        )
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev == mx.mx)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between nation pairs, by year
# ---------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) t
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg", "date"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume by year: 5-way star join (all dims broadcast,
    one shuffled fact join), year extraction, disjunctive nation-pair
    predicate."""
    s = table(spark, sf_dir, "supplier")
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            _dsum_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# PIVOT (reshape: one column per status value)
# ---------------------------------------------------------------------------
@register(
    "q_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on order status with an EXPLICIT value list — Spark then skips
    the extra distinct-values job and keeps output columns deterministic
    (required at scale AND for a stable schema)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


# ---------------------------------------------------------------------------
# Unpivot / melt (wide measures -> long form; the inverse reshape of pivot)
# ---------------------------------------------------------------------------
_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_UNPIVOT_UNION = "\n      UNION ALL ".join(
    f"SELECT l_returnflag, '{m}' AS measure, {m} AS val FROM lineitem"
    for m in _MEASURES
)


@register(
    "q_unpivot_measures",
    oracle=f"""
    WITH long AS (
      {_UNPIVOT_UNION}
    )
    SELECT l_returnflag, measure,
           CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM long GROUP BY l_returnflag, measure
    """,
    tags=("agg", "unpivot", "reshape"),
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt four lineitem measure columns into (measure, val) long form,
    then aggregate per (returnflag, measure) — the wide->long reshape that
    feeds metric stores and per-measure statistics. Spark's native
    `unpivot` (Expand node) emits the long rows WITHOUT materializing them
    (one scan, rows x 4 only inside the pipeline, map-side partial agg
    before the single shuffle) — the oracle's UNION ALL of 4 scans is the
    plan shape unpivot avoids at scale."""
    li = table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=list(_MEASURES),
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.sum(F.col("val").cast("decimal(18,4)")).cast("double").alias("total"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Documents analytics (group-by over the LLM corpus dims)
# ---------------------------------------------------------------------------
@register(
    "docs_by_lang_source",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang, source
    """,
    tags=("agg", "llm"),
)
def docs_by_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile: document counts and length stats per (lang, source) —
    the routine pre-training-mix accounting query."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double") / F.count("*")).alias(
            "avg_chars"
        ),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Q19 — disjunctive multi-predicate join (OR-of-ANDs residual)
# ---------------------------------------------------------------------------
@register(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 11 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
    """,
    tags=("join", "disjunctive", "agg"),
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs across both join sides: stays an equi hash join on
    partkey with the disjunction as a residual filter (never a nested
    loop); part is broadcast."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 20)
    ) | (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(11, 30)
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 30)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            _dsum_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )
