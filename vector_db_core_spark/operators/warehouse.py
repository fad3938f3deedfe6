"""TPC-H round-out [EXT]: the thirteen classic warehouse shapes not
yet in the catalog — Q2 (correlated min over a derived part-supplier
cost table), Q4 (EXISTS semi join), Q8 (market-share ratio), Q9
(product-type profit), Q10 (returned-item top-k), Q11 (scalar-subquery
share threshold), Q12 (CASE-sum late-shipment panel), Q14 (promo
revenue ratio), Q15 (argmax against an aggregate-of-aggregate), Q16
(distinct-supplier counts with NOT-IN exclusion), Q19 (disjunctive
conjunct predicate), Q20 (correlated share-of-group threshold), and
Q21 (the multi-EXISTS "waiting supplier", rewritten as one aggregate).

Together with q1/q3/q5/q6 (relational.py) and q7/q13/q17/q18/q22
(analytics.py) this completes all 22 TPC-H query *shapes* on the
reduced fixture schema. The fixtures carry no partsupp table and no
l_commitdate / l_receiptdate / l_shipmode columns, so the queries that
need them keep their namesake's *pattern* on the columns that exist:

  * partsupp            → the distinct (l_partkey, l_suppkey) pairs
                          observed in lineitem, with ps_supplycost
                          stood in by min(l_extendedprice/l_quantity)
                          (Q2) or p_retailprice·quantity (Q9) and
                          ps_availqty by shipped-quantity share (Q11,
                          Q16, Q20);
  * commit/receipt lag  → l_shipdate − o_orderdate ("late" = shipped
                          more than N days after ordering; Q4, Q12,
                          Q21);
  * l_shipmode          → o_orderpriority classes (Q12's HIGH/LOW
                          CASE-sum panel, grouped by return flag).

All money arithmetic follows the exact-decimal policy
(functions/exact.py): sums accumulate in DECIMAL and surface as
DOUBLE, so every result is order-independent and matches the DuckDB
oracle bit-for-bit at any parallelism. Ratios divide two such doubles
— one IEEE division of identical inputs.

[EXT] — the reference is a record store with no query language
(/root/reference/readme.md:32-35); SURVEY.md §2.2 claims this surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vector_db_core_spark.checkpoint import loop_checkpoint
from vector_db_core_spark.functions.exact import dec, dsum
from vector_db_core_spark.operators.registry import register
from vector_db_core_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# identical to relational.py's money product (same decimal widths)
_DISC_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(7,2))"


def _disc_price() -> F.Column:
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(7,2)")


# ------------------------------------------------------------- Q2 shape
@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    ranked AS (
      SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost,
             MIN(unit_cost) OVER (PARTITION BY p_partkey) AS best_cost
      FROM cost
      JOIN eu   ON l_suppkey = s_suppkey
      JOIN part ON l_partkey = p_partkey
      WHERE p_size <= 15 AND p_type = 'LARGE')
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost
    FROM ranked WHERE unit_cost = best_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for every LARGE part of size <= 15, the EUROPE
    supplier(s) offering it at the minimum unit cost — the correlated
    MIN subquery pattern. partsupp is derived: unit cost per
    (part, supplier) = min observed l_extendedprice/l_quantity (one
    IEEE division of 2-dp doubles — identical in both engines, so the
    min and the equality filter are exact).

    100 TB plan: the (partkey, suppkey) aggregate is the only big
    shuffle; the part filter (p_size AND p_type, ~1/300 selectivity)
    broadcasts and prunes BEFORE the window, and the region-scoped
    supplier dim broadcasts. The correlated min is a window over
    p_partkey on already-aggregated rows (≤ |parts|·|suppliers per
    part|), never a self-join of lineitem. Final top-100 is
    TakeOrderedAndProject with a full deterministic tiebreak.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = (
        _t(spark, sf_dir, "part")
        .where((F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_brand")
    )
    ranked = (
        cost.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("best_cost", F.min("unit_cost").over(W.partitionBy("p_partkey")))
    )
    return (
        ranked.where(F.col("unit_cost") == F.col("best_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "unit_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ------------------------------------------------------------- Q4 shape
@register(
    "q4_order_priority_checking",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in one quarter having at least one
    late-shipped lineitem, counted by priority — the EXISTS-correlated
    semi join. "Late" adapts commitdate/receiptdate (absent) to
    shipped > 90 days after ordering.

    100 TB plan: the quarter filter prunes orders at the scan
    (pushed-down min/max on o_orderdate); LEFT SEMI join on orderkey
    keeps each order once regardless of how many lineitems qualify (no
    fanout, no distinct needed); the non-equi lateness predicate rides
    the semi join as a residual. Final aggregate groups on a 5-value
    key — its exchange moves ~nothing.
    """
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ------------------------------------------------------------- Q8 shape
@register(
    "q8_national_market_share",
    oracle=f"""
    WITH scoped AS (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
             {_DISC_SQL} AS vol,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN supplier  ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY')
    SELECT order_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE) AS mkt_share
    FROM scoped GROUP BY order_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of ECONOMY-part revenue sold
    into AMERICA-region customers, by order year — the
    conditional-sum-over-sum market-share ratio on the full 8-table
    join tree.

    100 TB plan: part (type filter, 1/6) and the region-scoped
    customer-nation dim broadcast below the big joins; lineitem⋈orders
    and the custkey join are the only large shuffles, on natural keys.
    Numerator and denominator accumulate in one aggregate pass (CASE
    inside the sum — no second scan), exact-decimal, then one double
    division per year row.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", _disc_price()).otherwise(zero)).cast("double")
                / F.sum(_disc_price()).cast("double")
            ).alias("mkt_share")
        )
    )


# ------------------------------------------------------------- Q9 shape
@register(
    "q9_product_type_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(SUM({_DISC_SQL}) AS DOUBLE)
             - CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, CAST(YEAR(o_orderdate) AS INT)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on '%gear%' parts by supplier nation and
    order year. ps_supplycost (absent) is stood in by
    p_retailprice·l_quantity, keeping the revenue-minus-cost panel.
    Profit = exact-decimal revenue sum minus exact-decimal cost sum,
    subtracted once in DOUBLE (sum distributes over the difference, so
    this equals summing per-row profit — with one rounding point
    instead of one per row).

    100 TB plan: the part name filter broadcasts (substring LIKE can't
    push to parquet stats but prunes before any shuffle); supplier and
    nation broadcast; lineitem⋈orders is the one big shuffle. Single
    aggregate pass, map-side combined over ~|nations|×|years| groups.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount", "l_quantity"
    )
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cost = F.col("p_retailprice").cast("decimal(18,2)") * F.col("l_quantity").cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("order_year"))
        .agg(
            (F.sum(_disc_price()).cast("double") - F.sum(cost).cast("double")).alias("sum_profit")
        )
    )


# ------------------------------------------------------------ Q10 shape
@register(
    "q10_returned_item_customers",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({_DISC_SQL}) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers who returned the most revenue
    in one quarter — join-filter-aggregate-topk in one plan.

    100 TB plan: the returnflag filter (1/3) and the quarter filter
    (~1/26, parquet-stats prunable) land at the scans; lineitem⋈orders
    shuffles on orderkey, then one custkey shuffle for the aggregate;
    nation broadcasts. Top-20 is TakeOrderedAndProject (per-partition
    heaps) with c_custkey as the deterministic revenue tiebreak.
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ------------------------------------------------------------ Q11 shape
@register(
    "q11_important_part_values",
    oracle="""
    WITH scoped AS (
      SELECT l_partkey,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS px
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5')
    SELECT l_partkey AS partkey,
           CAST(SUM(px) AS DOUBLE) AS part_value
    FROM scoped
    GROUP BY l_partkey
    HAVING CAST(SUM(px) AS DOUBLE) >
           2.0 * (SELECT CAST(SUM(px) AS DOUBLE)
                         / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE)
                  FROM scoped)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value through NATION_5
    suppliers exceeds TWICE the average part's — HAVING against an
    uncorrelated scalar subquery. ps_availqty·ps_supplycost (absent)
    is stood in by summed extendedprice over the nation's lineitems.

    100 TB plan: the nation-scoped supplier dim broadcasts and prunes
    lineitem before its only shuffle (the partkey aggregate). The
    global total is a one-row aggregate cross-joined as a broadcast —
    no second shuffle. Like Q22's average, the scoped frame is scanned
    twice (per-part and total) — at scale persist it; Catalyst won't
    fuse the two aggregates. The threshold is share-RELATIVE (2x the
    scoped mean part value) rather than the original's absolute
    fraction/SF, so selectivity is stable at every scale factor —
    the absolute 0.001 form went empty at sf0.1. The compare is one
    double multiply of an exact-decimal-derived value, identical in
    both engines.
    """
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    scoped = li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")).select(
        "l_partkey", dec("l_extendedprice").alias("px")
    )
    per_part = scoped.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum("px").cast("double").alias("part_value")
    )
    total = scoped.agg(
        (
            F.sum("px").cast("double")
            / F.count_distinct(F.col("l_partkey")).cast("double")
        ).alias("avg_part_value")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_value") > 2.0 * F.col("avg_part_value"))
        .select("partkey", "part_value")
    )


# ------------------------------------------------------------ Q12 shape
@register(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: among 1997 lineitems shipped more than 60 days
    after ordering, how many belonged to high- vs low-priority orders,
    per return flag — the two-CASE-sum panel. l_shipmode (absent) is
    replaced by l_returnflag as the grouping dimension, and the
    commit/receipt lateness by the ship-lag adaptation.

    100 TB plan: the ship-year filter is parquet-stats prunable; the
    cross-table lag predicate rides the orderkey join as a residual.
    One shuffle (the join); the CASE sums aggregate to 3 rows with
    map-side combine. Counts are integers — exact everywhere.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ------------------------------------------------------------ Q14 shape
@register(
    "q14_promo_revenue_effect",
    oracle=f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_SQL}
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({_DISC_SQL}) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: the percentage of one month's revenue earned
    by PROMO-type parts — conditional-sum over total-sum in a single
    aggregate pass.

    100 TB plan: the one-month ship filter prunes at the scan
    (~1/80); part broadcasts into the only join; numerator and
    denominator come from ONE pass (CASE inside the sum), both
    exact-decimal, with a single double division and multiply at the
    end — identical bits in both engines.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(zero)).cast("double")
                / F.sum(_disc_price()).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


# ------------------------------------------------------------ Q15 shape
@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({_DISC_SQL}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with the maximum revenue in one
    quarter — a scalar subquery over an aggregate of the same derived
    view (the original's CREATE VIEW revenue0).

    100 TB plan: one suppkey shuffle builds the revenue view; it is
    checkpointed (it feeds both the max and the equality filter — the
    one-line analog of Q15's view reuse), the max collapses to a
    broadcast one-row frame, and the equality match compares doubles
    that came from the same exact-decimal sums — no epsilon needed.
    Supplier joins on its primary key AFTER aggregation (100 vs 600k
    rows at sf0.1).
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    # checkpointed because BOTH branches below read it (max + equality
    # filter; ReuseExchange does not dedupe the second lineitem read);
    # |suppliers| rows after aggregation, bounded at any SF.
    revenue = loop_checkpoint(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.sum(_disc_price()).cast("double").alias("total_revenue")
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(best))
        .where(F.col("total_revenue") == F.col("best_revenue"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ------------------------------------------------------------ Q16 shape
@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 4, 9, 14, 23, 36, 45, 50)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each
    (brand, type, size) combination, excluding one brand and a
    supplier blocklist — countDistinct with a NOT-IN anti join.
    partsupp (absent) is derived from the (l_partkey, l_suppkey)
    pairs observed in lineitem; the original's complaint-comment
    blocklist becomes negative-balance suppliers.

    100 TB plan: the part attribute filter broadcasts; the blocklist
    is a broadcast LEFT ANTI join (NOT IN with guaranteed-non-null
    keys ≡ anti join — nullable keys would need the null-aware
    variant); the exact distinct count expands to (brand, type, size,
    suppkey) partial groups first, so the final shuffle carries
    already-deduplicated pairs.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        _t(spark, sf_dir, "part")
        .where((F.col("p_brand") != "Brand#5") & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 50))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blocked = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(blocked), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# ------------------------------------------------------------ Q19 shape
@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(SUM({_DISC_SQL}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue matching a disjunction of three
    (brand, size-band, quantity-band) conjunctions — the classic
    OR-of-ANDs predicate that spans both join sides.

    100 TB plan: like Q7, the single-side implications of the
    disjunction are pre-pushed manually — part is pre-filtered to
    brand ∈ {{1,2,3}} AND size ≤ 15 (each disjunct implies both) and
    lineitem to quantity ≤ 30 BEFORE the join, since Catalyst does
    not factor common implications out of a cross-side OR; the full
    disjunction stays as a cheap residual. The pruned part side
    broadcasts; zero shuffles beyond the final one-row aggregate.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") & (F.col("p_size") <= 15))
        .select("p_partkey", "p_brand", "p_size")
    )
    disjunct = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(disjunct)
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


# ------------------------------------------------------------ Q20 shape
@register(
    "q20_excess_share_suppliers",
    oracle="""
    WITH pq AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS supp_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
      GROUP BY l_partkey, l_suppkey),
    shares AS (
      SELECT l_suppkey, supp_qty,
             SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
      FROM pq)
    SELECT DISTINCT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN shares ON l_suppkey = s_suppkey
    WHERE n_name = 'NATION_7' AND supp_qty > 0.3 * part_qty
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: NATION_7 suppliers who shipped more than 30%
    of some '%bolt%' part's 1997 volume — the nested-IN correlated
    0.5·sum(l_quantity) threshold of the original, with availability
    share standing in for ps_availqty.

    100 TB plan: the part-name filter broadcasts as a semi join
    before the aggregate; one composite-key shuffle builds
    (part, supplier) quantities; the correlated per-part total is a
    window over the aggregated rows (not a lineitem self-join). The
    supplier⋈nation probe happens after DISTINCT has collapsed
    qualifying pairs to bare suppkeys.
    """
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("%bolt%")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    pq = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity", "supp_qty"))
    )
    shares = pq.withColumn("part_qty", F.sum("supp_qty").over(W.partitionBy("l_partkey")))
    qualifying = (
        shares.where(F.col("supp_qty") > 0.3 * F.col("part_qty")).select("l_suppkey").distinct()
    )
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return supp.join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi").select(
        "s_suppkey", "s_name"
    )


# ------------------------------------------------------------ Q21 shape
@register(
    "q21_waiting_supplier",
    oracle="""
    WITH lo AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END AS is_late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'),
    per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS n_late,
             MAX(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
      FROM lo GROUP BY l_orderkey)
    SELECT s_name, COUNT(*) AS numwait
    FROM per_order
    JOIN supplier ON late_supp = s_suppkey
    WHERE n_supp > 1 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    finalized multi-supplier orders — the original's
    EXISTS(other supplier) AND NOT EXISTS(other late supplier) double
    self-join, rewritten as ONE aggregation over (order, supplier)
    lateness: an order qualifies iff it has >1 distinct suppliers and
    exactly 1 distinct late supplier, and MAX over the late suppliers
    then IS that unique supplier. "Late" = shipped >90 days after
    ordering (commit/receipt dates absent).

    100 TB plan: this is the reason for the rewrite — the textbook
    formulation self-joins lineitem twice (three lineitem shuffles,
    two with fanout); the aggregate form shuffles lineitem ONCE on
    orderkey, collapses each order to three small columns, and every
    later stage operates on order-level rows. Supplier names join
    after the per-supplier count (|suppliers| rows). Top-100 is
    TakeOrderedAndProject with the name as tiebreak.
    """
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        F.col("l_suppkey"),
    )
    per_order = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.count_distinct(F.col("l_suppkey")).alias("n_supp"),
            F.count_distinct(late).alias("n_late"),
            F.max(late).alias("late_supp"),
        )
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(supp, F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
