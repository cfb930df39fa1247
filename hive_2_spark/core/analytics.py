"""TPC-H-shaped analytical queries through the SQL API (Layer-B ops
33/34/37/45).

Every query is ``spark.sql`` over registered temp views — the SQL surface
and the DataFrame surface share one Catalyst pipeline. Join graphs:
customer -> orders -> lineitem (+ part/supplier/nation/region dims, all
broadcast-sized at TPC-H ratios).

Schema adaptation: the driver's schema has no ``partsupp``,
``l_commitdate``, ``l_receiptdate`` or ``c_phone`` (FIXTURES.md §A), so
queries whose canonical forms need them are adapted to the same
analytical *shape* over the available columns:

- Q6  — single-table predicate-pushdown aggregate (forecast revenue change).
- Q8  — national market share: ratio-of-conditional-sums per year.
- Q9  — profit by (nation, year): 5-way star join whose measure combines
  columns of two joined tables (``l_extendedprice``/``l_discount`` with a
  ``p_retailprice``-derived unit cost standing in for ``ps_supplycost``).
- Q11 — revenue concentration: HAVING against a scalar subquery over the
  same fact table (partsupp value share in canonical form).
- Q13 — customer order-count distribution: LEFT OUTER join with an ON-clause
  extra predicate, then a second aggregation over the first's result.
- Q15 — top supplier by revenue: aggregate CTE reused twice (join + scalar
  MAX subquery) — the canonical VIEW formulation.
- Q16 — supplier-diversity count: multi-predicate dimension filter +
  ``NOT IN`` uncorrelated subquery + ``COUNT(DISTINCT)`` over a 3-key group
  (lineitem stands in for ``partsupp`` as the part<->supplier pair source).
- Q17 — small-quantity revenue: correlated scalar subquery per part.
- Q20 — nested ``IN`` over an aggregated-HAVING subquery that itself
  contains an ``IN`` subquery — the two-level semi-join reduction.
- Q21 — the double-correlated self-join: ``EXISTS`` (another supplier in
  the same order) **and** ``NOT EXISTS`` (another supplier also late) over
  the same fact table, with lateness = shipped >90 days after order date
  (standing in for ``l_receiptdate > l_commitdate``).
- Q22 — idle high-balance customers: anti-join (NOT EXISTS) + scalar AVG
  subquery (phone-prefix filter replaced by nationkey, which the schema has).

Determinism (NOTES.md invariants): every top-k ORDER BY carries a unique
tiebreaker (Q21's LIMIT rides ``numwait DESC, s_name`` — s_name is
unique); revenue sums that feed comparisons or equality accumulate in
DECIMAL (double ulp drift across engines flips boundary rows); plain
reported sums are ROUNDed at the end only, CAST to DOUBLE for hash-stable
output; counts are CAST to BIGINT (DuckDB SUM(int) yields HUGEINT).

At scale every query is a star join over one fact table: dimensions are
broadcast-sized (dimension:fact ≈ 1:30), so Catalyst picks broadcast-hash
joins and the only shuffles are the final group-bys — verified by the
plan gates in tests/test_plans.py. Q21's two correlated subqueries
decorrelate to aggregates/semi-joins on ``l_orderkey`` — three scans of
lineitem that AQE plans as shuffle joins on the same key, not O(n²)
nested loops.
"""

from __future__ import annotations

from hive_2_spark import catalog


_Q3 = """
SELECT o_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""

_Q5 = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1999-01-01'
GROUP BY n_name
"""

_Q10 = """
SELECT c_custkey, c_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       n_name
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

_Q12 = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(SUM(CASE WHEN l_quantity <  25 THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
GROUP BY o_orderpriority
"""


_Q7 = """
SELECT supp_nation, cust_nation, yr,
       ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(YEAR(l_shipdate) AS INT) AS yr,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  WHERE sn.n_name IN ('NATION_1', 'NATION_2')
    AND cn.n_name IN ('NATION_1', 'NATION_2')
    AND sn.n_name <> cn.n_name
) shipping
GROUP BY supp_nation, cust_nation, yr
"""

_Q18 = """
SELECT c_custkey, c_name, o_orderkey,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
)
GROUP BY c_custkey, c_name, o_orderkey
"""


_FILTERED_AGG = """
SELECT o_orderstatus,
       COUNT(*) FILTER (WHERE o_totalprice > 200000.0) AS n_large,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       BOOL_OR(o_totalprice > 400000.0)  AS any_huge,
       BOOL_AND(o_totalprice > 1000.0)   AS all_above_1k,
       ROUND(AVG(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 4)
         AS avg_urgent_price
FROM orders
GROUP BY o_orderstatus
"""


_Q2ISH = """
SELECT p.p_partkey, s.s_name, l.l_extendedprice AS best_price
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE p.p_size <= 5
  AND l.l_extendedprice = (
    SELECT MIN(l2.l_extendedprice) FROM lineitem l2
    WHERE l2.l_partkey = p.p_partkey
  )
"""

_Q4ISH = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""

_Q14ISH = """
SELECT ROUND(
  100.0 * SUM(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
"""

_Q19ISH = """
-- revenue accumulates in exact DECIMAL: double sums differ by ulps across
-- engines and this aggregate lands exactly on a ROUND .005 boundary
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue,
       COUNT(*) AS n
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 25)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 15
       AND l_quantity BETWEEN 10 AND 40)
   OR (p_type = 'PROMO' AND l_quantity >= 30)
"""


_RECURSIVE_CTE = """
WITH RECURSIVE thresholds(n) AS (
  SELECT 5 UNION ALL SELECT n + 5 FROM thresholds WHERE n < 50
)
SELECT CAST(n AS BIGINT) AS qty_threshold,
       COUNT(l_orderkey) AS n_lines
FROM thresholds LEFT JOIN lineitem ON l_quantity >= n
GROUP BY n
"""

_LATERAL_TOPK = """
SELECT c_custkey, o_orderkey, o_totalprice
FROM customer,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 2
)
WHERE c_custkey <= 50
"""


_GROUP_BY_ALL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY ALL
"""


# Q6: the classic "would revenue have changed" filter-aggregate. The whole
# query is one scan + partial/final agg; all three predicates reach the
# parquet reader as PushedFilters.
_Q6 = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.04 AND 0.08
  AND l_quantity < 24.0
"""

# Q8: market share of NATION_1 suppliers among ASIA-region customers for
# STANDARD parts, per order year. Ratio of conditional sums; DECIMAL
# accumulation so numerator/denominator are exact before the division.
_Q8 = """
SELECT yr,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_1'
                           THEN volume ELSE CAST(0.00 AS DECIMAL(18,2)) END)
                  AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
         CAST(l_extendedprice AS DECIMAL(18,2)) *
         CAST(1 - l_discount  AS DECIMAL(18,2)) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part      ON p_partkey  = l_partkey
  JOIN supplier  ON s_suppkey  = l_suppkey
  JOIN orders    ON o_orderkey = l_orderkey
  JOIN customer  ON c_custkey  = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region    ON r_regionkey = cn.n_regionkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
) all_nations
GROUP BY yr
"""

# Q11-shaped: parts whose revenue exceeds 0.1% of global revenue. The HAVING
# threshold is a scalar subquery; DECIMAL keeps the > comparison exact so no
# boundary part flips between engines.
_Q11 = """
SELECT l_partkey,
       ROUND(CAST(part_rev AS DOUBLE), 2) AS part_rev
FROM (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             CAST(1 - l_discount  AS DECIMAL(18,2))) AS part_rev
  FROM lineitem
  GROUP BY l_partkey
) per_part
WHERE part_rev > (
  SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             CAST(1 - l_discount  AS DECIMAL(18,2))) * 0.001
  FROM lineitem
)
"""

# Q13: distribution of per-customer order counts, keeping zero-order
# customers via LEFT JOIN with the filter in the ON clause (moving it to
# WHERE would silently drop them — the classic outer-join pitfall Q13 pins).
_Q13 = """
SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) per_customer
GROUP BY n_orders
"""

# Q15: the revenue "view" is used twice — joined to supplier and reduced to
# its MAX. DECIMAL accumulation makes the equality comparison exact; with
# doubles two engines can disagree on which supplier is the argmax when sums
# differ by one ulp.
_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             CAST(1 - l_discount  AS DECIMAL(18,2))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-07-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       ROUND(CAST(total_rev AS DOUBLE), 2) AS total_rev
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
"""

# Q17: revenue from small-quantity orders of one brand; the per-part average
# is a correlated scalar subquery (Catalyst decorrelates it to an aggregate
# + join — same shape DuckDB plans).
_Q17 = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
"""

# Q22-shaped: customers with above-average positive balance and no orders at
# all — scalar AVG subquery + NOT EXISTS anti-join, grouped by nation.
# DECIMAL accumulation on both the AVG threshold and the reported SUM (the
# module's determinism rule): the boundary comparison and the .005 rounding
# boundary then depend on one exact sum, not on double summation order.
_Q22 = """
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT AVG(CAST(c_acctbal AS DECIMAL(18,2)))
    FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


# Q9-shaped: profit per (supplier nation, order year) for one part family.
# ps_supplycost does not exist; unit cost is modeled as 60% of the part's
# retail price — the measure still spans lineitem x part columns, which is
# what forces the join before the aggregate.
_Q9 = """
SELECT n_name AS nation,
       CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      CAST(1 - l_discount  AS DECIMAL(18,2)) -
                      CAST(0.6 AS DECIMAL(2,1)) *
                      CAST(p_retailprice AS DECIMAL(18,2)) *
                      CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_profit
FROM lineitem
JOIN part     ON p_partkey  = l_partkey
JOIN supplier ON s_suppkey  = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, YEAR(o_orderdate)
"""

# Q16-shaped: how many distinct suppliers serve each (brand, type, size)
# bucket, excluding one brand, one type family, and "complained-about"
# suppliers (negative balance stands in for the comment scan). The NOT IN
# subquery is uncorrelated -> broadcast anti-join.
_Q16 = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
  )
GROUP BY p_brand, p_type, p_size
"""

# Q20-shaped: suppliers who moved real volume of 'small%' parts in 1997 —
# IN over (GROUP BY ... HAVING) which itself contains an IN over part.
# Catalyst reduces both levels to (broadcast) semi-joins; the aggregate
# runs once, not per-supplier.
_Q20 = """
SELECT s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_partkey IN (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    )
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(l_quantity) > 45.0
)
"""

# Q21-shaped: for finished orders, count per supplier the lineitems that
# shipped >90 days late where at least one OTHER supplier participated in
# the order (EXISTS) and NO other supplier was also late (NOT EXISTS) —
# i.e. this supplier alone kept the order waiting. Both subqueries are
# correlated on l_orderkey against the same fact table.
_Q21 = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders      ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# One SQL text per key: Spark plans it through ``catalog.sql`` (QUERIES)
# and the DuckDB oracle runs the same string (ORACLES).
ORACLES = {
    # FILTER-clause conditional aggregation + BOOL_OR/BOOL_AND.
    "agg_filtered": _FILTERED_AGG,
    # Recursive CTE (Spark 4.x): generated threshold series joined
    # against the fact table. The recursion happens at PLAN time on 10
    # rows; the fact side stays a single scan.
    "sql_recursive_cte": _RECURSIVE_CTE,
    # Correlated LATERAL subquery with ORDER BY + LIMIT — per-customer
    # top-2 orders. Catalyst decorrelates this into a ranked window over
    # one shuffle, not N point queries.
    "sql_lateral_topk": _LATERAL_TOPK,
    # GROUP BY ALL: every non-aggregate select item becomes a group key
    # — identical syntax in Spark 4 and DuckDB.
    "sql_group_by_all": _GROUP_BY_ALL,
    # Correlated scalar subquery: cheapest line per small part.
    "sql_q2_min_cost_supplier": _Q2ISH,
    # Correlated EXISTS with an inequality on the outer column.
    "sql_q4_order_priority": _Q4ISH,
    # Conditional-aggregate ratio (single-row result).
    "sql_q14_promo_share": _Q14ISH,
    # Disjunctive multi-predicate join filter (OR across brand/size/qty
    # bands) — the optimizer must keep the equi-key and treat the
    # disjunction as a residual.
    "sql_q19_disjunctive": _Q19ISH,
    "sql_q3_shipping_priority": _Q3,
    "sql_q5_nation_volume": _Q5,
    "sql_q7_binat_volume": _Q7,
    "sql_q10_returned_items": _Q10,
    "sql_q12_priority_lines": _Q12,
    "sql_q18_large_orders": _Q18,
    "sql_q6_forecast_revenue": _Q6,
    "sql_q8_market_share": _Q8,
    "sql_q11_revenue_concentration": _Q11,
    "sql_q13_order_distribution": _Q13,
    "sql_q15_top_supplier": _Q15,
    "sql_q17_small_qty_revenue": _Q17,
    "sql_q22_idle_customers": _Q22,
    "sql_q9_profit_by_nation": _Q9,
    "sql_q16_supplier_diversity": _Q16,
    "sql_q20_volume_suppliers": _Q20,
    "sql_q21_waiting_suppliers": _Q21,
}

QUERIES = catalog.sql_keys(ORACLES, __name__)
