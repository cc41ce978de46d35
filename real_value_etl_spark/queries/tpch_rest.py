"""Remaining TPC-H-shaped queries (Q2/Q8/Q9/Q12/Q13/Q20/Q21/Q22 analogues)
— with these, all 22 TPC-H query shapes are represented on the driver's
star schema.

The driver star schema has no partsupp and no commit/receipt dates, so the
shapes are preserved with available columns: Q9's supplycost becomes a
retail-price-derived cost, Q12's shipmode becomes linestatus, Q21's
"received late" becomes "shipped >30 days after order date". The operator
shapes under test — left join with ON-clause predicate, double aggregation,
correlated EXISTS + NOT EXISTS as semi/anti joins, scalar subquery gating an
anti join, conditional market-share ratio over an 8-way join — are the
TPC-H ones.

Same conventions as relational.py: exact-decimal double aggregation,
identical aliases in Spark and SQL, deterministic tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register, table


# ---------------------------------------------------------------------------
# Q8 — market share of one supplier nation within a region, by order year
# ---------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_1'
                 THEN vol ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_rows
    FROM (
      SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6)) AS vol,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    ) t
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("join", "agg", "conditional", "date"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_1's share of PROMO-part revenue sold into ASIA customers, per
    order year: 8-way star join where every dimension (part, supplier,
    customer, nation x2, region) broadcasts — the only shuffle is
    lineitem x orders on orderkey — then a conditional-ratio aggregate.
    Numerator and denominator are exact decimal sums, so the double ratio
    is bit-identical across engines."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rk")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rk") == F.col("r_regionkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
    )
    num = F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
        F.lit(0).cast("decimal(28,6)")
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(num).cast("double") / F.sum(vol).cast("double")).alias("mkt_share"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q9 — product-line profit by supplier nation and year
# ---------------------------------------------------------------------------
@register(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         - p.p_retailprice * l.l_quantity * 0.1
                    AS DECIMAL(28,6))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, o_year
    ORDER BY nation, o_year
    """,
    tags=("join", "agg", "like", "date"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on widget parts per supplier nation per year (supplycost has
    no column in this schema; 10% of retail price times quantity stands in).
    The LIKE filter prunes part before its broadcast; the profit expression
    is folded per-row into one decimal cast so the sum is order-free."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    ).cast("decimal(28,6)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
        .orderBy("nation", "o_year")
    )


# ---------------------------------------------------------------------------
# Q12 — priority class counts by line status (two-way conditional counts)
# ---------------------------------------------------------------------------
@register(
    "q12_priority_lines",
    oracle="""
    SELECT l.l_linestatus AS l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
    tags=("join", "agg", "conditional"),
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High/low-priority line counts per line status in 1996 (Q12 with
    linestatus standing in for shipmode): the year filter pushes to the
    lineitem scan; one shuffled join; counts fold map-side."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (outer join w/ ON-clause filter)
# ---------------------------------------------------------------------------
@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("join", "outer", "agg", "histogram"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many customers placed N non-urgent orders: the priority predicate
    must live in the LEFT JOIN's ON clause (a WHERE would drop orderless
    customers), COUNT(col) skips the null-extended rows, then a second,
    tiny aggregation builds the histogram."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who alone shipped last on shared, finished orders
# ---------------------------------------------------------------------------
@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name AS s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    """,
    tags=("join", "semi", "anti", "correlated"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's double-correlated shape (received-late becomes shipped >30 days
    after order date — this schema has no receipt/commit dates): the EXISTS
    compiles to a left-semi and the NOT EXISTS to a left-anti join, both
    equi on orderkey with the supplier/date residuals — never a nested
    loop — and lineitem's orderkey shuffle is shared by all three joins."""
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = table(spark, sf_dir, "lineitem")
    l1 = l.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = l.select(
        F.col("l_orderkey").alias("k2"),
        F.col("l_suppkey").alias("s2"),
    )
    l3 = l.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    late = l1.join(o, l1.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    shared = late.join(
        l2,
        (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    sole_last = shared.join(
        l3,
        (F.col("l_orderkey") == F.col("k3"))
        & (F.col("l_suppkey") != F.col("s3"))
        & (F.col("d3") > F.col("l_shipdate")),
        "left_anti",
    )
    return (
        sole_last.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
    )


# ---------------------------------------------------------------------------
# Q22 — rich customers with no orders (scalar subquery + anti join)
# ---------------------------------------------------------------------------
@register(
    "q22_dormant_customers",
    oracle="""
    SELECT c.c_mktsegment AS c_mktsegment,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("anti", "scalar", "subquery", "agg"),
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers who never placed an urgent order,
    per segment: the scalar average broadcasts as a 1-row cross join, the
    NOT EXISTS is a left-anti on custkey against the pre-filtered orders.
    The average is exact-decimal-sum / count so the threshold double is
    identical in both engines."""
    c = table(spark, sf_dir, "customer")
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("ok"))
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("ok"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.col("c_acctbal").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Q2 — cheapest qualifying supplier per part (argmin-per-group + join-back)
# ---------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH shipped AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    cand AS (
      SELECT sh.l_partkey AS p_key, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM shipped sh
      JOIN supplier s ON s.s_suppkey = sh.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    mn AS (SELECT p_key, MIN(s_acctbal) AS min_bal FROM cand GROUP BY p_key)
    SELECT c.p_key AS p_partkey, c.s_suppkey, c.s_name, c.n_name,
           CAST(c.s_acctbal AS DOUBLE) AS s_acctbal
    FROM cand c
    JOIN mn ON c.p_key = mn.p_key AND c.s_acctbal = mn.min_bal
    JOIN part p ON p.p_partkey = c.p_key
    WHERE p.p_size <= 5
    ORDER BY s_acctbal, p_partkey, s_suppkey
    LIMIT 20
    """,
    tags=("join", "argmin", "subquery", "topk"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's correlated-min shape without partsupp (min supply cost becomes
    min account balance among suppliers who actually shipped the part):
    the per-part minimum is computed ONCE in a group-by and joined back —
    never a per-row correlated rescan. Supplier/nation/region broadcast;
    the raw s_acctbal value joins on exact equality (no arithmetic, so no
    float divergence)."""
    l = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    cand = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("l_partkey").alias("p_key"),
            "s_suppkey",
            "s_name",
            "s_acctbal",
            "n_name",
        )
    )
    mn = cand.groupBy("p_key").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        cand.join(
            mn.withColumnRenamed("p_key", "mk"),
            (F.col("p_key") == F.col("mk")) & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .join(F.broadcast(p), F.col("p_key") == p.p_partkey)
        .select(
            F.col("p_key").alias("p_partkey"),
            "s_suppkey",
            "s_name",
            "n_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
        )
        .orderBy(F.asc("s_acctbal"), F.asc("p_partkey"), F.asc("s_suppkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q20 — suppliers shipping well above the per-part average (nested agg semi)
# ---------------------------------------------------------------------------
@register(
    "q20_excess_suppliers",
    oracle="""
    WITH ship AS (
      SELECT l.l_suppkey, l.l_partkey,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%widget%'
      GROUP BY 1, 2
    ),
    avg_per_part AS (
      SELECT l_partkey, CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM ship GROUP BY 1
    ),
    heavy AS (
      SELECT DISTINCT s.l_suppkey
      FROM ship s JOIN avg_per_part a ON s.l_partkey = a.l_partkey
      WHERE CAST(s.qty AS DOUBLE) > 1.5 * a.avg_qty
    )
    SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM heavy h WHERE h.l_suppkey = s.s_suppkey)
    ORDER BY s.s_suppkey
    """,
    tags=("join", "semi", "nested_agg"),
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20's nested-aggregate shape without partsupp (availqty > half of
    shipped becomes shipped > 1.5x the per-part average): two stacked
    aggregations over the SAME (suppkey, partkey) shuffle, then a semi
    join into supplier. Exact-decimal per-pair sums make the derived
    average — and therefore the qualifying set — identical across
    engines."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = table(spark, sf_dir, "supplier")
    ship = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
    )
    avg_per_part = ship.groupBy("l_partkey").agg(
        (F.sum("qty").cast("double") / F.count("*")).alias("avg_qty")
    )
    heavy = (
        ship.join(avg_per_part.withColumnRenamed("l_partkey", "pk"),
                  F.col("l_partkey") == F.col("pk"))
        .filter(F.col("qty").cast("double") > 1.5 * F.col("avg_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )
