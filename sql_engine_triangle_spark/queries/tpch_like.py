"""Classic TPC-H-shaped deep-join queries over the fixture tables.

The driver fixture is TPC-H-ish (TESTDATA.md), so the canonical
multi-join analytics shapes — shipping-priority (Q3-like), local
supplier volume (Q5-like), returned-item reporting (Q10-like) — run
unmodified up to the columns the fixture carries. They complement the
reference's Q1–Q4 with deeper join trees (the reference lab never
joins more than one dimension chain — SURVEY.md §2.3), exercising
Catalyst's join ordering and broadcast selection at depth.

Float discipline: revenue = sum(l_extendedprice * (1-l_discount))
accumulates as DECIMAL(18,4) on both engines (exact,
order-independent), as in j_star_revenue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_engine_triangle_spark.catalog import load_table
from sql_engine_triangle_spark.queries.registry import register, register_sql

register_sql(
    "tpch_q3_shipping_priority",
    """
SELECT /*+ BROADCAST(c) */ l_orderkey,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS odate
FROM {lineitem}
JOIN {orders}   ON l_orderkey = o_orderkey
JOIN {customer} c ON c_custkey = o_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("J1", "A4", "O3"),
    doc="""TPC-H Q3 shape: un-shipped high-revenue orders for one market
    segment. customer (filtered, broadcast) ⋈ orders ⋈ lineitem, one
    fact shuffle on the order key, top-10 via TakeOrderedAndProject.""",
)


register_sql(
    "tpch_q5_local_supplier_volume",
    """
SELECT /*+ BROADCAST(c, s, n, r) */ n_name,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM {lineitem}
JOIN {orders}   ON l_orderkey = o_orderkey
JOIN {customer} c ON c_custkey = o_custkey
JOIN {supplier} s ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN {nation}   n ON s_nationkey = n_nationkey
JOIN {region}   r ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    tags=("J1", "A4", "A6"),
    doc="""TPC-H Q5 shape: revenue from orders where the supplier and the
    customer share a nation, per nation in one region. Six-table join
    — the join-ordering stress: lineitem⋈orders is the only
    fact-sized exchange; customer/supplier/nation/region broadcast,
    with the local-supplier condition (c_nationkey = s_nationkey)
    applied as a join predicate, not a post-filter.""",
)


register_sql(
    "tpch_q10_returned_items",
    """
SELECT /*+ BROADCAST(c, n) */ c_custkey, c_name,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS lost_revenue,
       n_name
FROM {lineitem}
JOIN {orders}   ON l_orderkey = o_orderkey
JOIN {customer} c ON c_custkey = o_custkey
JOIN {nation}   n ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
""",
    tags=("J1", "A4", "O3"),
    doc="""TPC-H Q10 shape: top-20 customers by revenue lost to returns
    in one quarter-window. Returned-flag filter pushes to the
    lineitem scan; dims broadcast; top-20 via TakeOrderedAndProject.""",
)


register_sql(
    "tpch_q7_volume_shipping",
    """
SELECT supp_nation, cust_nation, yr,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM (
  SELECT /*+ BROADCAST(s, c, n1, n2) */ n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS yr,
         l_extendedprice, l_discount
  FROM {lineitem}
  JOIN {supplier} s ON s_suppkey = l_suppkey
  JOIN {orders}   ON o_orderkey = l_orderkey
  JOIN {customer} c ON c_custkey = o_custkey
  JOIN {nation} n1 ON s_nationkey = n1.n_nationkey
  JOIN {nation} n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, yr
ORDER BY supp_nation, cust_nation, yr
""",
    tags=("J1", "A4", "A6"),
    doc="""TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. The nation table joins the fact TWICE under different
    roles (supplier's vs customer's nation) with a disjunctive
    cross-pair predicate — the self-join-of-a-dimension stress the
    reference lab never exercises. Both nation sides and both dims
    broadcast; the only fact-sized exchange is lineitem⋈orders. The
    pair predicate prunes to two nations BEFORE the fact join (filter
    on the broadcast side), so at 100 TB the join output — not the
    scan — is what shrinks.""",
)


register_sql(
    "tpch_q8_market_share",
    """
SELECT yr,
       CAST(round(
         CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                       ELSE CAST(0.0000 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(sum(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share
FROM (
  SELECT /*+ BROADCAST(p, s, c, n1, r, n2) */
         CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS volume,
         n2.n_name AS supp_nation
  FROM {part} p
  JOIN {lineitem} ON l_partkey = p_partkey
  JOIN {supplier} s ON s_suppkey = l_suppkey
  JOIN {orders}   ON o_orderkey = l_orderkey
  JOIN {customer} c ON c_custkey = o_custkey
  JOIN {nation} n1 ON c_nationkey = n1.n_nationkey
  JOIN {region}   r ON n1.n_regionkey = r_regionkey
  JOIN {nation} n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE'
    AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
) all_nations
GROUP BY yr
ORDER BY yr
""",
    tags=("J1", "A4", "F6"),
    doc="""TPC-H Q8 shape: one nation's market share of a part type in
    one region's customer market, by order year. Eight-relation join
    (nation twice) with a conditional-aggregate ratio — share =
    sum(volume WHERE supplier is NATION_3) / sum(volume). Every
    relation but lineitem⋈orders broadcasts; the ratio is computed
    from two decimal sums in ONE aggregation pass (no second scan,
    no self-join), then divided as DOUBLE — exact accumulation,
    one rounding at the very end.""",
)


register_sql(
    "tpch_q14_promo_revenue",
    """
SELECT /*+ BROADCAST(p) */ CAST(round(
         100.00 * CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
                     ELSE CAST(0.0000 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
       4) AS DOUBLE) AS promo_revenue_pct
FROM {lineitem}
JOIN {part} p ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
""",
    tags=("J1", "A4", "F1"),
    doc="""TPC-H Q14 shape: share of one month's revenue from promo
    parts. Global (no-key) conditional-aggregate ratio: the ship-month
    filter pushes to the lineitem scan, part broadcasts, and both the
    numerator and denominator come out of one partial+final
    aggregation — a two-task reduce regardless of fact size.""",
)


register_sql(
    "tpch_q15_top_supplier",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS total_revenue
  FROM {lineitem}
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
),
ranked AS (
  SELECT supplier_no, total_revenue,
         max(total_revenue) OVER () AS max_revenue
  FROM revenue
)
SELECT /*+ BROADCAST(s) */ s_suppkey, s_name,
       CAST(round(total_revenue, 2) AS DOUBLE) AS total_revenue
FROM ranked
JOIN {supplier} s ON s_suppkey = supplier_no
WHERE total_revenue = max_revenue
ORDER BY s_suppkey
""",
    tags=("J1", "A4", "O3"),
    doc="""TPC-H Q15 shape: the supplier(s) with maximum quarter revenue
    (ties kept — max-equality, not LIMIT 1). One fact aggregation by
    l_suppkey, then an unpartitioned window-max over the AGGREGATED
    frame — |suppliers| rows, not fact rows, so the single-partition
    window is bounded by dimension cardinality at any scale (the same
    reasoning that rejects it over raw facts in pipeline_pack_
    sequences). Supplier dim broadcasts onto the winners.""",
)


TPCH_Q12_ORACLE = """
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_yr,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90
GROUP BY CAST(year(l_shipdate) AS INTEGER)
ORDER BY ship_yr
"""


@register("tpch_q12_late_shipments", oracle=TPCH_Q12_ORACLE, tags=("J1", "A5", "F6"))
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted to fixture columns: the fixture has no
    l_shipmode/commitdate, so lateness = shipped >90 days after the
    order and the group key is ship year): priority-mix CASE-counting
    over late lines. The lateness predicate compares two columns from
    OPPOSITE join sides, so it evaluates as a post-join filter on the
    one fact-sized exchange; the CASE counts are partial-aggregated
    map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
            > 90
        )
        .groupBy(F.year("l_shipdate").alias("ship_yr"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_yr")
    )


register_sql(
    "tpch_q19_disjunctive_join",
    """
SELECT /*+ BROADCAST(p) */
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2)
       AS DOUBLE) AS revenue
FROM {lineitem}
JOIN {part} p ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
    tags=("J1", "P6", "A4"),
    doc="""TPC-H Q19 shape (adapted: fixture part has no container, so the
    brand/size/quantity bands carry the disjunction): revenue under an
    OR-of-ANDs predicate mixing columns from both join sides. Catalyst
    pushes the derivable single-side residuals (brand∈{...} to the
    part scan, quantity∈[1,30] to the lineitem scan) below the join
    and keeps the cross-side disjunction as the join filter — the
    predicate-decomposition behavior the reference lab measures on
    its engines' OR filters.""",
)


register_sql(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                      AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
       CAST(round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                  / count(*), 6) AS DOUBLE) AS avg_qty,
       CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                  / count(*), 6) AS DOUBLE) AS avg_price,
       count(*) AS count_order
FROM {lineitem}
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("A4", "A5", "F1"),
    doc="""Literal TPC-H Q1 (pricing summary report) — the canonical
    full-scan aggregation: four decimal-routed sums (incl. the
    tax-compounded charge), two averages, and a count per
    (returnflag, linestatus). One scan, partial+final HashAggregate,
    ~6 output rows; averages are computed as exact-decimal-sum /
    count divided as DOUBLE so both engines agree bit-for-bit after
    one terminal rounding.""",
)


register_sql(
    "tpch_q4_order_priority",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM {orders}
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
  AND EXISTS (
    SELECT 1 FROM {lineitem}
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > CAST(o_orderdate AS TIMESTAMP) + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("J3", "A5"),
    doc="""TPC-H Q4 shape (adapted: no commitdate in the fixture, so the
    'late' EXISTS predicate is shipped >60 days after order): order
    counts per priority where at least one line shipped late. The
    EXISTS compiles to a LEFT SEMI join keyed l_orderkey — each order
    contributes once regardless of how many late lines it has, which
    a plain inner join would get wrong. The cross-side date predicate
    rides the semi-join condition.""",
)


register_sql(
    "tpch_q6_forecast_revenue",
    """
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2)
       AS DOUBLE) AS revenue
FROM {lineitem}
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("P3", "P6", "A4"),
    doc="""TPC-H Q6 (forecasting revenue change): a pure scan-filter-sum
    with three conjunctive range predicates — the predicate-pushdown
    showcase. All three predicates reach the parquet scan as
    PushedFilters (row-group min/max pruning at scale); the plan is
    scan → filter → two-task partial+final sum with NO join and NO
    wide exchange.""",
)


register_sql(
    "tpch_q13_customer_distribution",
    """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM {customer} c
  LEFT JOIN {orders} o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("J1", "A5"),
    doc="""TPC-H Q13 shape: the distribution of per-customer order counts
    (adapted: the excluded-comment predicate becomes an
    order-priority exclusion). The LEFT join is load-bearing — it
    preserves zero-order customers as c_count=0, which an inner join
    silently drops; count(o_orderkey) (not count(*)) is what makes
    the null-extended rows count as zero. Two aggregations: the
    per-customer count shuffles on the join key it already has; the
    distribution aggregation reduces |customers| rows to a handful of
    counts.""",
)


register_sql(
    "tpch_q22_idle_customers",
    """
WITH avg_bal AS (
  SELECT avg(c_acctbal) AS ab FROM {customer} WHERE c_acctbal > 0.0
),
eligible AS (
  SELECT /*+ BROADCAST(avg_bal) */ c.c_custkey, c.c_nationkey, c.c_acctbal
  FROM {customer} c, avg_bal
  WHERE c.c_acctbal > avg_bal.ab
    AND NOT EXISTS (
      SELECT 1 FROM {orders} o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2001-01-01'
    )
)
SELECT c_nationkey AS cntry, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS totacctbal
FROM eligible
GROUP BY c_nationkey
ORDER BY cntry
""",
    tags=("J3", "A4", "A5"),
    doc="""TPC-H Q22 shape (global sales opportunity; adapted: country
    code = c_nationkey, no phone column in the fixture; 'no orders
    ever' is empty here because every fixture customer orders, so the
    anti-condition is DORMANCY — no orders since 2001-01-01, ~19% of
    above-average customers at sf0.01): customers with above-average
    positive balance and no recent orders, counted and summed per
    country. Two correlated-subquery idioms in one query:
    the global average enters as a broadcast 1-row aggregate (scalar
    subquery), and NOT EXISTS compiles to a LEFT ANTI join on the
    customer key. c_acctbal is 2-dp money, so the DECIMAL(18,2) cast
    is exact and the sum order-independent.""",
)


register_sql(
    "tpch_q17_small_quantity",
    """
WITH pavg AS (
  SELECT /*+ BROADCAST(p) */ l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_bar
  FROM {lineitem}
  JOIN {part} p ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#3' AND p_size <= 15
  GROUP BY l_partkey
)
SELECT /*+ BROADCAST(p, pavg) */
       CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                  / 7.0, 2) AS DOUBLE) AS avg_yearly
FROM {lineitem}
JOIN {part} p ON p_partkey = l_partkey
JOIN pavg ON pk = l_partkey
WHERE p_brand = 'Brand#3' AND p_size <= 15
  AND l_quantity < qty_bar
""",
    tags=("J1", "A4", "A7"),
    doc="""TPC-H Q17 shape (adapted: brand + size band instead of the
    missing container column): revenue locked in small-quantity
    orders, where 'small' is CORRELATED — below 20% of that part's
    own average quantity. The correlated aggregate decorrelates into
    a per-part average joined back (part-keyed, dimension-sized at
    any scale, broadcast). Determinism note: l_quantity is
    integer-valued and per-part line counts are small, so the
    average's double sum is EXACT regardless of accumulation order —
    the 0.2·avg threshold compares identically on both engines with
    no rounding needed.""",
)


register_sql(
    "tpch_q21_waiting_supplier",
    """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM {lineitem}
  JOIN {orders} ON o_orderkey = l_orderkey AND o_orderstatus = 'F'
  WHERE l_shipdate > CAST(o_orderdate AS TIMESTAMP) + INTERVAL 60 DAY
)
SELECT /*+ BROADCAST(s) */ s_name, count(DISTINCT l1.l_orderkey) AS numwait
FROM late l1
JOIN {supplier} s ON s_suppkey = l1.l_suppkey
WHERE EXISTS (
    SELECT 1 FROM {lineitem} l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
    tags=("J3", "A5", "O3"),
    doc="""TPC-H Q21 shape (adapted lateness: shipped >60 days after the
    order, as in Q4/Q12): suppliers who SOLELY held up multi-supplier
    orders — a late line, at least one other supplier on the order
    (EXISTS → LeftSemi), and no OTHER supplier late on it (NOT
    EXISTS → LeftAnti). The classic double-correlated-subquery
    stress: both subqueries correlate on l_orderkey AND the outer
    row's l_suppkey, so each becomes a self-join keyed on the order
    with a supplier-inequality residual. The late lines are one CTE,
    used by the outer query and the NOT EXISTS alike: an anti-join
    correlated on the outer o_orderdate could not filter its side and
    would ship all of lineitem. Orders are counted DISTINCT per
    supplier (a supplier with two late lines on one order waits
    once).""",
)


register_sql(
    "tpch_q9_product_profit",
    """
SELECT nation, yr,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS profit
FROM (
  SELECT /*+ BROADCAST(p, s, n) */ n_name AS nation,
         CAST(year(o_orderdate) AS INTEGER) AS yr,
         l_extendedprice, l_discount
  FROM {lineitem}
  JOIN {part}     p ON p_partkey = l_partkey
  JOIN {supplier} s ON s_suppkey = l_suppkey
  JOIN {orders}   ON o_orderkey = l_orderkey
  JOIN {nation}   n ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%bolt%'
)
GROUP BY nation, yr
ORDER BY nation, yr DESC
""",
    tags=("J1", "A4", "P7"),
    doc="""TPC-H Q9 shape (adapted: no partsupp table in the fixture, so
    profit omits the supply-cost term and reduces to discounted
    revenue — the JOIN TREE and the LIKE-driven part pruning are what
    this entry exercises): product-line profit by supplier nation and
    order year, for parts whose name matches a substring. The LIKE
    filter prunes the part dimension BEFORE it broadcasts (a contains
    filter cannot push to parquet min/max, but it shrinks the
    broadcast build side); the only fact-sized exchange is the final
    (nation, yr) aggregation after lineitem⋈orders.""",
)
