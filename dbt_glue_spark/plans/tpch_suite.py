"""Remaining TPC-H-shaped queries — completes the classic decision-support
operator sweep started in plans/relational.py (Q1/Q3/Q6/Q7/Q10/Q13/Q14/Q16/
Q17/Q18 live there).

The reference forwards user SQL to Spark verbatim (reference:
dbt/include/glue/macros/adapters.sql:148-192), so its queryable surface is
the full SQL dialect; these queries exercise the shapes the existing set
does not yet cover: deep multi-way snowflake joins (Q5), CASE-ratio
aggregation over a double-dimension join (Q8), LIKE-filtered profit rollup
(Q9), HAVING against a global scalar subquery (Q11), CASE-bucket counts
(Q12), argmax against an aggregated CTE (Q15), disjunctive multi-branch
predicates (Q19), EXISTS + NOT EXISTS chains (Q21), NOT EXISTS + scalar
threshold with string-derived grouping (Q22), and correlated min (Q2).

Test tables lack ``partsupp``, ``l_commitdate/l_receiptdate/l_shipmode``,
``c_phone`` and ``p_container``; each query keeps its reference operator
shape with the columns that exist (noted per query).

Scale annotations describe the 100 TB plan: what broadcasts, what shuffles,
what prunes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_glue_spark.functions.scalars import half_up_round
from dbt_glue_spark.plans.catalog import register
from dbt_glue_spark.plans.relational import _osum, dsum
from dbt_glue_spark.sources.registry import load_table


@register(
    "q5_local_supplier_volume",
    f"""
    SELECT n_name, {_osum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="TPC-H Q5: local-supplier revenue by nation. 6-way snowflake join "
    "where the supplier join carries TWO conditions (suppkey equi + "
    "same-nation). 100 TB plan: region/nation/supplier broadcast; the only "
    "shuffles are lineitem⋈orders and orders⋈customer on their keys; the "
    "orderdate range prunes the orders scan before either shuffle.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q8_market_share",
    f"""
    SELECT o_year,
           FLOOR(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(SUM(vol) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS vol,
             ns.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation nc ON c_nationkey = nc.n_nationkey
      JOIN region   ON nc.n_regionkey = r_regionkey
      JOIN nation ns ON s_nationkey = ns.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
    doc="TPC-H Q8: market share of one supplier nation within a customer "
    "region, by order year — CASE-conditional numerator over the same "
    "decimal-sum denominator, half-up rounded on both engines. 100 TB "
    "plan: part/supplier/nation×2/region broadcast (nation joined twice "
    "under two alias names); lineitem⋈orders is the one big shuffle; "
    "p_type filter prunes the build side before broadcast.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nc = load_table(spark, sf_dir, "nation").alias("nc")
    ns = load_table(spark, sf_dir, "nation").alias("ns")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    base = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nc), customer.c_nationkey == F.col("nc.n_nationkey"))
        .join(F.broadcast(region), F.col("nc.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(ns), supplier.s_nationkey == F.col("ns.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("vol"),
            F.col("ns.n_name").alias("supp_nation"),
        )
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return base.groupBy("o_year").agg(
        half_up_round(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("vol")).otherwise(zero))
            .cast("double")
            / F.sum("vol").cast("double"),
            6,
        ).alias("mkt_share")
    )


@register(
    "q9_profit_by_nation_year",
    f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           {_osum('l_extendedprice * (1 - l_discount)')} AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
    """,
    doc="TPC-H Q9 shape: profit by supplier nation and order year for parts "
    "matching a LIKE pattern (no partsupp table → profit omits supplycost; "
    "reference shape kept: LIKE-filtered dimension drives the fact join). "
    "100 TB plan: the LIKE filter shrinks part before broadcast, "
    "semi-filtering lineitem early; nation/supplier broadcast; one shuffle "
    "on orderkey.",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_profit"))
    )


@register(
    "q11_important_parts",
    f"""
    WITH pv AS (
      SELECT l_partkey, {_osum('l_extendedprice * (1 - l_discount)')} AS part_value
      FROM lineitem
      GROUP BY l_partkey
    )
    SELECT l_partkey, part_value
    FROM pv
    WHERE part_value > 1.5 * (SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,6))) AS DOUBLE)
                                     / COUNT(*) FROM pv)
    """,
    doc="TPC-H Q11 shape: parts whose value exceeds a multiple of the GLOBAL "
    "mean part value — filter against an uncorrelated scalar subquery over "
    "the aggregate itself (no partsupp table → value is discounted "
    "revenue). 100 TB plan: one shuffle on partkey for the group-by; the "
    "mean is a one-row broadcast re-aggregation of that (already tiny) "
    "result; both sides sum in decimal so the threshold compare is "
    "bit-identical across engines.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = lineitem.groupBy("l_partkey").agg(dsum(disc).alias("part_value"))
    mean_value = per_part.agg(
        (dsum(F.col("part_value")) / F.count("*")).alias("mean_part_value")
    )
    return (
        per_part.join(F.broadcast(mean_value))
        .filter(F.col("part_value") > 1.5 * F.col("mean_part_value"))
        .select("l_partkey", "part_value")
    )


@register(
    "q12_priority_lineclass",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape: CASE-bucketed priority counts per line class (no "
    "l_shipmode/commitdate columns → bucketing keyed on l_linestatus and "
    "the shipdate year window). 100 TB plan: shipdate range pushes to the "
    "parquet scan; single shuffle on orderkey; CASE counts fold into the "
    "partial agg (map-side combine leaves ~2 rows per partition).",
)
def q12_priority_lineclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {_osum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15: the supplier(s) achieving max quarterly revenue — an "
    "aggregated CTE consumed twice (join probe + scalar max). The decimal "
    "sum makes the double equality deterministic across engines. 100 TB "
    "plan: revenue CTE is one shuffle on suppkey, output |suppliers| rows; "
    "the max is a one-row broadcast; supplier join broadcasts the "
    "pre-aggregated side, not the fact.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    best = revenue.agg(F.max("total_revenue").alias("best_rev"))
    return (
        supplier.join(F.broadcast(revenue), supplier.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q19_disjunctive_revenue",
    f"""
    SELECT {_osum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    doc="TPC-H Q19: disjunction of three conjunctive branches mixing "
    "build-side (brand/size) and probe-side (quantity) predicates (no "
    "p_container column → branches keyed on brand+size). 100 TB plan: "
    "Catalyst derives the OR-of-brands / OR-of-quantity-ranges residuals, "
    "pushing `p_brand IN (...)` to the part scan and the quantity span to "
    "the lineitem scan BEFORE the join; part then broadcasts.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    branch = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & (q >= qlo)
        & (q <= qhi)
    )
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .filter(
            branch("Brand#12", 5, 1, 11)
            | branch("Brand#23", 10, 10, 20)
            | branch("Brand#4", 15, 20, 30)
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q21_waiting_suppliers",
    """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape: the sole at-fault supplier in a multi-supplier "
    "order — correlated EXISTS (another supplier participated) plus NOT "
    "EXISTS (no other supplier was also at fault), here keyed on "
    "l_returnflag='R' (no l_receiptdate/commitdate columns). 100 TB plan: "
    "both correlated subqueries become left-semi / left-anti joins on "
    "orderkey with a non-equi suppkey residual — three shuffles share the "
    "same orderkey partitioning so AQE can pipeline them; supplier "
    "broadcasts at the end.",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").alias("l3")
    waiting = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
        .join(orders, F.col("l1.l_orderkey") == orders.o_orderkey, "left_semi")
    )
    return (
        waiting.join(F.broadcast(supplier), F.col("l1.l_suppkey") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "q22_sales_opportunity",
    """
    SELECT cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM (
      SELECT SUBSTR(c_name, LENGTH(c_name) - 1, 2) AS cntrycode, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                / COUNT(*)
                         FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    ) promising
    GROUP BY cntrycode
    """,
    doc="TPC-H Q22 shape: lapsed customers — above-average balance, no "
    "orders after a cutoff — grouped by a string-derived code (SUBSTR of "
    "c_name stands in for the missing c_phone country code; every "
    "customer has SOME order in this data, so the NOT EXISTS is "
    "date-scoped). 100 TB plan: the positive-balance average is a one-row "
    "broadcast scalar; NOT EXISTS is a left-anti join against orders "
    "pre-filtered by the pushed-down date and projected to o_custkey; "
    "final group-by is tiny (≤100 codes).",
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum(F.col("c_acctbal"), 2) / F.count("*")).alias("avg_bal")
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select(
            F.expr("substring(c_name, length(c_name) - 1, 2)").alias("cntrycode"),
            "c_acctbal",
        )
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "q2_min_price_supplier",
    """
    WITH eu_sales AS (
      SELECT l_partkey, l_suppkey, l_extendedprice
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT DISTINCT p_partkey, p_name, s_name,
           CAST(l_extendedprice AS DOUBLE) AS min_price
    FROM part
    JOIN eu_sales ON p_partkey = l_partkey
    JOIN supplier ON eu_sales.l_suppkey = s_suppkey
    WHERE p_size = 5
      AND l_extendedprice = (SELECT MIN(e2.l_extendedprice) FROM eu_sales e2
                             WHERE e2.l_partkey = p_partkey)
    GROUP BY p_partkey, p_name, s_name, l_extendedprice
    """,
    doc="TPC-H Q2 shape: for each qualifying part, the European supplier(s) "
    "quoting the minimum price — a correlated MIN subquery over a "
    "join-derived relation (no partsupp table → the min ranges over actual "
    "sale prices). 100 TB plan: region/nation broadcast into the supplier "
    "filter; the correlated min rewrites to groupBy(partkey).min + "
    "broadcast argmin join back; p_size prunes part before its broadcast.",
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 5)
    eu_supp = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name")
    )
    eu_sales = lineitem.join(
        F.broadcast(eu_supp), lineitem.l_suppkey == eu_supp.s_suppkey
    ).select("l_partkey", "l_suppkey", "l_extendedprice", "s_name")
    mins = eu_sales.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        eu_sales.join(
            F.broadcast(mins),
            (eu_sales.l_partkey == mins.mk)
            & (eu_sales.l_extendedprice == mins.min_price),
        )
        .join(F.broadcast(part), eu_sales.l_partkey == part.p_partkey)
        .select("p_partkey", "p_name", "s_name", F.col("min_price").cast("double"))
        .distinct()
    )


@register(
    "q20_excess_shipments",
    """
    WITH small_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small %'
    ),
    per AS (
      SELECT l_suppkey, l_partkey,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '2000-06-01'
                      THEN CAST(l_quantity AS DECIMAL(18,6)) ELSE 0 END)
               AS q_recent,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS q_total
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM small_parts)
      GROUP BY l_suppkey, l_partkey
    ),
    excess AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_excess_parts
      FROM per WHERE q_recent * 2 > q_total GROUP BY l_suppkey
    )
    SELECT s_name, n_name, n_excess_parts
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN excess ON s_suppkey = l_suppkey
    ORDER BY s_name
    """,
    doc="TPC-H Q20 shape (no partsupp table in this schema, so availqty is "
    "replaced by the supplier's own shipment history): suppliers whose "
    "2000H2+ shipments of a name-matched part family exceed half their "
    "all-time shipments of it — the nested-IN semi-join chain with an "
    "aggregate threshold that defines Q20. 100 TB plan: the part-family "
    "filter broadcasts into the lineitem scan as a semi join, the "
    "conditional/total sums share ONE (suppkey, partkey) aggregation "
    "pass, and the final supplier lookup is a broadcast semi join — "
    "decimal sums keep the comparison exact under any partitioning "
    "(q_recent*2 > q_total avoids a double division entirely).",
)
def q20_excess_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    small = part.filter(F.col("p_name").like("small %")).select("p_partkey")
    per = (
        li.join(F.broadcast(small), li.l_partkey == small.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(
                    F.col("l_shipdate") >= F.lit("2000-06-01").cast("timestamp"),
                    F.col("l_quantity").cast("decimal(18,6)"),
                ).otherwise(F.lit(0).cast("decimal(18,6)"))
            ).alias("q_recent"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("q_total"),
        )
    )
    excess = (
        per.filter(F.col("q_recent") * 2 > F.col("q_total"))
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("n_excess_parts"))
    )
    return (
        supplier.join(F.broadcast(excess), supplier.s_suppkey == excess.l_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name", "n_excess_parts")
        .orderBy("s_name")
    )
