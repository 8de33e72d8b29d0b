package graft
package queries

import graft.ops._
import graft.sources.IO.readParquet

/** The SQL analytics surface (SURVEY.md §2.2): TPC-H-shaped queries, joins,
  * grouping sets, windows and event analytics. */
object AnalyticsQueries {
  val all: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", (s, d) => AggOps.q1PricingSummary(Tables.lineitem(s, d)),
      () => """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
         round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
         round(avg(l_quantity),4) AS avg_qty,
         round(avg(l_extendedprice),4) AS avg_price,
         round(avg(l_discount),6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus"""),
    QuerySpec("q3_shipping_priority", (s, d) =>
      AggOps.q3ShippingPriority(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      () => """SELECT l_orderkey, o_orderpriority,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM customer JOIN orders ON c_custkey=o_custkey
         JOIN lineitem ON o_orderkey=l_orderkey
         WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    QuerySpec("q5_local_supplier", (s, d) =>
      AggOps.q5LocalSupplier(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      () => """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM region JOIN nation ON n_regionkey=r_regionkey
         JOIN customer ON c_nationkey=n_nationkey
         JOIN orders ON o_custkey=c_custkey
         JOIN lineitem ON l_orderkey=o_orderkey
         JOIN supplier ON l_suppkey=s_suppkey AND s_nationkey=c_nationkey
         WHERE r_name='ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name"""),
    QuerySpec("q6_forecast_revenue", (s, d) => AggOps.q6ForecastRevenue(Tables.lineitem(s, d)),
      () => """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS n_rows
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""),
    QuerySpec("q4_order_priority", (s, d) =>
      AggOps.q4OrderPriority(Tables.orders(s, d), Tables.lineitem(s, d)),
      () => """SELECT o_orderpriority, count(*) AS order_count FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
           AND EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY o_orderpriority"""),
    QuerySpec("q7_volume_shipping", (s, d) =>
      AggOps.q7VolumeShipping(Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d)),
      () => """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         strftime(l_shipdate, '%Y') AS l_year,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         JOIN supplier ON l_suppkey=s_suppkey
         JOIN nation n1 ON s_nationkey=n1.n_nationkey
         JOIN nation n2 ON c_nationkey=n2.n_nationkey
         WHERE (n1.n_name='NATION_1' AND n2.n_name='NATION_2')
            OR (n1.n_name='NATION_2' AND n2.n_name='NATION_1')
         GROUP BY 1, 2, 3"""),
    QuerySpec("q9_nation_revenue", (s, d) =>
      AggOps.q9NationRevenue(Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.part(s, d), Tables.orders(s, d), Tables.nation(s, d)),
      () => """SELECT n_name AS nation, strftime(o_orderdate, '%Y') AS o_year,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem
         JOIN part ON l_partkey=p_partkey
         JOIN orders ON l_orderkey=o_orderkey
         JOIN supplier ON l_suppkey=s_suppkey
         JOIN nation ON s_nationkey=n_nationkey
         WHERE p_type='PROMO'
         GROUP BY 1, 2"""),
    QuerySpec("q14_promo_share", (s, d) =>
      AggOps.q14PromoShare(Tables.lineitem(s, d), Tables.part(s, d)),
      () => """SELECT round(
           sum(CASE WHEN p_type='PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END) * 100.0
             / sum(l_extendedprice*(1-l_discount)), 4) AS promo_share,
         count(*) AS n_rows
         FROM lineitem JOIN part ON l_partkey=p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'"""),
    QuerySpec("q2_min_cost_supplier", (s, d) =>
      AggOps.q2MinCostSupplier(s, Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d), Tables.region(s, d)),
      () => """WITH ps AS (
           SELECT l_partkey, l_suppkey,
                  floor(min(l_extendedprice / l_quantity) * 10000) / 10000 AS unit_cost
           FROM lineitem GROUP BY l_partkey, l_suppkey),
         aps AS (
           SELECT ps.l_partkey, ps.l_suppkey, ps.unit_cost, s.s_name, n.n_name
           FROM ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = 'ASIA')
         SELECT p.p_partkey, p.p_name, a.s_name, a.n_name, a.unit_cost
         FROM part p JOIN aps a ON p.p_partkey = a.l_partkey
         WHERE p.p_type = 'ECONOMY'
           AND a.unit_cost = (SELECT min(x.unit_cost) FROM aps x
                              WHERE x.l_partkey = p.p_partkey)"""),
    QuerySpec("q8_market_share", (s, d) =>
      AggOps.q8MarketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d)),
      () => """SELECT strftime(o_orderdate, '%Y') AS o_year,
         round(sum(CASE WHEN n2.n_name = 'NATION_7'
                        THEN l_extendedprice*(1-l_discount) ELSE 0.0 END)
               / sum(l_extendedprice*(1-l_discount)), 6) AS mkt_share
         FROM lineitem
         JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         JOIN nation n1 ON c_nationkey=n1.n_nationkey
         JOIN region ON n1.n_regionkey=r_regionkey
         JOIN supplier ON l_suppkey=s_suppkey
         JOIN nation n2 ON s_nationkey=n2.n_nationkey
         WHERE r_name='ASIA'
         GROUP BY 1"""),
    QuerySpec("q15_top_supplier", (s, d) =>
      AggOps.q15TopSupplier(Tables.supplier(s, d), Tables.lineitem(s, d)),
      () => """WITH rev AS (
           SELECT l_suppkey, round(sum(l_extendedprice*(1-l_discount)),2) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_rev
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM rev)"""),
    QuerySpec("q16_supplier_count", (s, d) =>
      AggOps.q16SupplierCount(s, Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d)),
      () => """SELECT p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM part JOIN lineitem ON p_partkey = l_partkey
         WHERE p_type <> 'PROMO'
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_type, p_size"""),
    QuerySpec("q17_small_qty_revenue", (s, d) =>
      AggOps.q17SmallQtyRevenue(s, Tables.part(s, d), Tables.lineitem(s, d)),
      () => """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_type = 'SMALL'
           AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)"""),
    QuerySpec("q20_promo_suppliers", (s, d) =>
      AggOps.q20PromoSuppliers(Tables.supplier(s, d), Tables.nation(s, d),
        Tables.lineitem(s, d), Tables.part(s, d)),
      () => """SELECT s_suppkey, s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_type = 'PROMO'
           GROUP BY l_suppkey HAVING sum(l_quantity) > 100)"""),
    QuerySpec("q11_important_parts", (s, d) =>
      AggOps.q11ImportantParts(s, Tables.supplier(s, d), Tables.lineitem(s, d)),
      () => """SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_nationkey < 13
         GROUP BY l_partkey
         HAVING sum(l_extendedprice * (1 - l_discount)) > (
           SELECT 0.001 * sum(l_extendedprice * (1 - l_discount))
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           WHERE s_nationkey < 13)"""),
    QuerySpec("q12_returnflag_priority", (s, d) =>
      AggOps.q12ReturnflagPriority(Tables.orders(s, d), Tables.lineitem(s, d)),
      () => """SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
             AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY l_returnflag"""),
    QuerySpec("q13_customer_distribution", (s, d) =>
      AggOps.q13CustomerDistribution(Tables.customer(s, d), Tables.orders(s, d)),
      () => """WITH per_cust AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count"""),
    QuerySpec("q19_discounted_revenue", (s, d) =>
      AggOps.q19DiscountedRevenue(Tables.part(s, d), Tables.lineitem(s, d)),
      () => """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#9'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)"""),
    QuerySpec("q21_lone_returners", (s, d) =>
      AggOps.q21LoneReturners(s, Tables.supplier(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d)),
      () => """SELECT s_name, count(*) AS numwait
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
         GROUP BY s_name"""),
    QuerySpec("q22_global_sales", (s, d) =>
      AggOps.q22GlobalSales(s, Tables.customer(s, d), Tables.orders(s, d)),
      () => """SELECT c_custkey % 10 AS cntrycode, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
         FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_custkey % 10"""),
    QuerySpec("q18_large_orders", (s, d) =>
      AggOps.q18LargeOrders(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      () => """SELECT c_custkey, c_name, o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS o_date,
         round(o_totalprice,2) AS o_totalprice_r, total_qty_r
         FROM orders
         JOIN (SELECT l_orderkey, round(sum(l_quantity),2) AS total_qty_r
               FROM lineitem GROUP BY l_orderkey
               HAVING sum(l_quantity) > 150) b ON o_orderkey = b.l_orderkey
         JOIN customer ON o_custkey = c_custkey"""),
    QuerySpec("q10_returned_items", (s, d) =>
      AggOps.q10ReturnedItems(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.nation(s, d)),
      () => """SELECT c_custkey, c_name, n_name,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         JOIN nation ON c_nationkey=n_nationkey
         WHERE l_returnflag='R' AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    QuerySpec("join_semi", (s, d) => JoinOps.semiJoinBigOrders(Tables.orders(s, d), Tables.lineitem(s, d)),
      () => """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS o_totalprice_r
         FROM orders WHERE EXISTS (
           SELECT 1 FROM lineitem WHERE l_orderkey=o_orderkey AND l_quantity >= 49)"""),
    QuerySpec("join_anti", (s, d) => JoinOps.antiJoinIdleCustomers(Tables.customer(s, d), Tables.orders(s, d)),
      () => """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey=c_custkey AND o_orderpriority='1-URGENT')"""),
    QuerySpec("mapside_join", (s, d) => JoinOps.broadcastJoinBrandRevenue(Tables.lineitem(s, d), Tables.part(s, d)),
      () => """SELECT p_brand, count(*) AS n_items,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem JOIN part ON l_partkey=p_partkey GROUP BY p_brand"""),
    QuerySpec("reduce_side_join", (s, d) => JoinOps.outerJoinCustomerOrders(Tables.customer(s, d), Tables.orders(s, d)),
      () => """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
         round(coalesce(sum(o_totalprice),0),2) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey=o_custkey
         GROUP BY c_custkey, c_name"""),
    // Required to hit the bounded-heap TopKRankedExec
    // (plans/RowNumberTopKRewrite). The rewrite is spec-proven
    // output-identical, so if it silently stopped matching the only symptom
    // would be perf drift; `planMust` turns that into a red gate row.
    QuerySpec("window_topk_per_group", (s, d) => AggOps.windowTopKPerGroup(Tables.orders(s, d)),
      () => """SELECT * FROM (
           SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS o_totalprice_r,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY round(o_totalprice,2) DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
      planMust = Some("TopKRanked")),
    QuerySpec("window_running_sum", (s, d) => AggOps.windowRunningSum(Tables.orders(s, d)),
      () => """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total
         FROM orders"""),
    QuerySpec("agg_rollup", (s, d) => AggOps.aggRollup(Tables.lineitem(s, d)),
      () => """SELECT coalesce(l_returnflag,'ALL') AS returnflag,
         coalesce(l_linestatus,'ALL') AS linestatus,
         round(sum(l_quantity),2) AS sum_qty, count(*) AS n_rows
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),
    QuerySpec("agg_cube", (s, d) => AggOps.aggCube(Tables.lineitem(s, d)),
      () => """SELECT coalesce(l_returnflag,'ALL') AS returnflag,
         coalesce(l_linestatus,'ALL') AS linestatus,
         round(sum(l_extendedprice),2) AS sum_price, count(*) AS n_rows
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""),
    QuerySpec("pivot_events", (s, d) => AggOps.pivotEvents(Tables.events(s, d)),
      () => """SELECT strftime(ts, '%Y-%m-%d') AS day,
         count(*) FILTER (WHERE event_type='click') AS "click",
         count(*) FILTER (WHERE event_type='error') AS "error",
         count(*) FILTER (WHERE event_type='purchase') AS "purchase",
         count(*) FILTER (WHERE event_type='signup') AS "signup",
         count(*) FILTER (WHERE event_type='view') AS "view"
         FROM events GROUP BY 1"""),
    QuerySpec("unpivot_events", (s, d) => AggOps.unpivotEvents(Tables.events(s, d)),
      () => """WITH d AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day FROM events),
         t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
         c AS (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT d.day, t.event_type, coalesce(c.n, 0) AS n_events
         FROM d CROSS JOIN t
         LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type"""),
    QuerySpec("set_ops", (s, d) => AggOps.setOps(Tables.orders(s, d)),
      () => """SELECT o_custkey, 'both' AS tag FROM (
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
           INTERSECT
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
         UNION ALL
         SELECT o_custkey, 'only_1996' AS tag FROM (
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
           EXCEPT
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')"""),
    QuerySpec("distinct_count", (s, d) => AggOps.distinctCount(Tables.lineitem(s, d)),
      () => """SELECT count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps,
         count(DISTINCT l_orderkey) AS n_orders FROM lineitem"""),
    QuerySpec("orders_by_month", (s, d) => AggOps.ordersByMonth(Tables.orders(s, d)),
      () => """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
         round(sum(o_totalprice),2) AS total
         FROM orders GROUP BY 1"""),
    QuerySpec("db_pageview", (s, d) => AggOps.dbPageview(Tables.events(s, d)),
      () => """SELECT event_type, count(*) AS n_events, round(sum(value),2) AS sum_value
         FROM events GROUP BY event_type"""),
    QuerySpec("json_props_agg", (s, d) => AggOps.jsonPropsAgg(Tables.events(s, d)),
      () => """SELECT event_type,
         CAST(sum(json_extract_string(props,'$.k')::BIGINT) AS BIGINT) AS sum_k,
         count(json_extract_string(props,'$.k')) AS n_with_k,
         min(json_extract_string(props,'$.k')::BIGINT) AS min_k,
         max(json_extract_string(props,'$.k')::BIGINT) AS max_k
         FROM events GROUP BY event_type"""),
    QuerySpec("asof_join", (s, d) => AggOps.asofLastPurchase(Tables.events(s, d)),
      () => """SELECT event_id, user_id, event_type,
         last_value(CASE WHEN event_type='purchase' THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
           OVER w AS last_purchase_epoch,
         round(last_value(CASE WHEN event_type='purchase' THEN value END IGNORE NULLS)
           OVER w, 2) AS last_purchase_value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""),
    QuerySpec("range_join", (s, d) => JoinOps.rangeJoinValueBuckets(Tables.events(s, d)),
      () => """SELECT bucket, count(*) AS n_events, round(sum(value),2) AS sum_value
         FROM events JOIN (VALUES
           (0.0, 20.0, 'b0_20'), (20.0, 40.0, 'b20_40'), (40.0, 60.0, 'b40_60'),
           (60.0, 80.0, 'b60_80'), (80.0, 1000000000.0, 'b80_up')) t(lo, hi, bucket)
         ON value >= lo AND value < hi
         GROUP BY bucket"""),
    QuerySpec("range_join_bigbig", (s, d) => JoinOps.rangeJoinBigBigRevenue(Tables.events(s, d)),
      () => """WITH intervals AS (SELECT i AS interval_id, i * 0.1::DOUBLE AS lo,
             i * 0.1::DOUBLE + 0.3::DOUBLE AS hi
           FROM range(1000) t(i))
         SELECT interval_id, count(*) AS n_points, round(sum(value), 2) AS sum_value
         FROM intervals JOIN events ON value >= lo AND value < hi
         GROUP BY interval_id"""),
    QuerySpec("correlated_subquery", (s, d) => AggOps.correlatedMinPerType(s, Tables.part(s, d)),
      () => """SELECT p_partkey, p_type, round(p_retailprice, 2) AS price
         FROM part p
         WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                                WHERE p2.p_type = p.p_type)"""),
    // Transparent sketch (register-relation HLL + deterministic-sample
    // order-statistic quantiles): under Verify the registers are dumped and
    // the result recomputed FROM the dump, so distinct estimates AND
    // quantiles are oracle-checked end to end.
    // Recomputes BOTH halves: the HLL estimates from the dumped register
    // relation (identical Flajolet arithmetic, same pattern as
    // hll_reaggregate) and the quantiles from scratch — the md5 1/16
    // Bernoulli sample and the ceil(q*n) order statistic are
    // engine-independent (md5 is md5; rank selection has no interpolation
    // arithmetic to diverge).
    {
      val regDir = QuerySpec.dumpDir("graft_approx_registers")
      QuerySpec("approx_sketch", (s, d) => AggOps.approxSketchTransparent(Tables.lineitem(s, d)),
        () => s"""WITH regs AS (SELECT which, bucket, r
             FROM read_parquet('$regDir/*.parquet')),
         u AS (SELECT which, bucket, max(r) AS r FROM regs GROUP BY 1, 2),
         agg AS (SELECT which, sum(power(2.0, -r)) AS sp, count(*) AS np
             FROM u GROUP BY 1),
         est AS (SELECT which,
             CASE WHEN raw <= 2.5 * 4096 AND zeros > 0
               THEN 4096 * ln(4096 / zeros::DOUBLE) ELSE raw END AS est
           FROM (SELECT which,
               0.7213 / (1 + 1.079 / 4096.0) * 4096 * 4096
                 / (sp + (4096 - np)) AS raw,
               4096 - np AS zeros FROM agg)),
         hll AS (SELECT
             round(max(CASE WHEN which = 'parts' THEN est END), 2) AS approx_parts,
             round(max(CASE WHEN which = 'orders' THEN est END), 2) AS approx_orders
           FROM est),
         s AS (SELECT l_extendedprice AS v FROM lineitem
           WHERE substr(md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR),
                        1, 1) = '0'),
         nn AS (SELECT count(*) AS n FROM s),
         ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
         qs AS (SELECT
             max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS q50,
             max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN v END) AS q95,
             max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN v END) AS q99
           FROM ranked CROSS JOIN nn)
         SELECT * FROM hll CROSS JOIN qs""",
        verify = Some { (s, d) =>
          val li = Tables.lineitem(s, d)
          AggOps.approxSketchRegisters(li).coalesce(1)
            .write.mode("overwrite").parquet(regDir)
          AggOps.approxSketchFromRegisters(li, readParquet(s, regDir))
        })
    },
    QuerySpec("sessionize", (s, d) => AggOps.sessionize(Tables.events(s, d)),
      () => """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
         FROM sessions GROUP BY user_id, session_id"""),
    QuerySpec("sessionize_native", (s, d) => AggOps.sessionizeNative(Tables.events(s, d)),
      () => """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 1800 SECONDS, '%Y-%m-%d %H:%M:%S') AS session_end_plus_gap,
           count(*) AS n_events
         FROM sessions GROUP BY user_id, session_id"""),
    QuerySpec("events_sliding", (s, d) => AggOps.eventsSliding(Tables.events(s, d)),
      () => """WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type, value
           FROM events),
         x AS (SELECT ((es // 900) - k) * 900 AS window_start, event_type, value
           FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k))
         SELECT window_start, event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
         FROM x GROUP BY window_start, event_type"""),
    QuerySpec("funnel_conversion", (s, d) => AggOps.funnelConversion(Tables.events(s, d)),
      () => """WITH s1 AS (SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS t1
           FROM events WHERE event_type='view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type='click' AND CAST(floor(epoch(e.ts)) AS BIGINT) > t1
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t3
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type='purchase' AND CAST(floor(epoch(e.ts)) AS BIGINT) > t2
           GROUP BY e.user_id)
         SELECT (SELECT count(*) FROM s1) AS n_view,
                (SELECT count(*) FROM s2) AS n_view_click,
                (SELECT count(*) FROM s3) AS n_view_click_purchase"""),
    QuerySpec("value_histogram", (s, d) => AggOps.valueHistogram(Tables.events(s, d)),
      () => """SELECT least(greatest(CAST(floor((value - 0.0) / 5.0) AS BIGINT), 0), 19) AS bucket,
           count(*) AS n, round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
         FROM events
         GROUP BY least(greatest(CAST(floor((value - 0.0) / 5.0) AS BIGINT), 0), 19)"""),
    QuerySpec("value_outliers", (s, d) => AggOps.valueOutliers(Tables.events(s, d)),
      () => """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY event_type),
         j AS (SELECT e.event_id, e.event_type, e.value, m.med
           FROM events e JOIN med m USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
           FROM j GROUP BY event_type)
         SELECT j.event_id, j.event_type, j.value,
           round(j.med, 6) AS med, round(mad.mad, 6) AS mad
         FROM j JOIN mad USING (event_type)
         WHERE abs(j.value - j.med) > 1.8 * mad.mad"""),
    QuerySpec("trailing_window_sum", (s, d) => AggOps.trailingWindowSum(Tables.events(s, d)),
      () => """SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
           round(sum(value) OVER (PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS trailing_sum
         FROM events"""),
    QuerySpec("window_rank_functions", (s, d) => AggOps.windowRankFunctions(Tables.events(s, d)),
      () => """SELECT event_id, event_type, value,
           CAST(dense_rank() OVER w AS BIGINT) AS drank,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist() OVER w, 6) AS cdist,
           CAST(ntile(10) OVER w AS BIGINT) AS decile
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)"""),
    QuerySpec("grouping_sets_report", (s, d) => AggOps.groupingSetsReport(s, Tables.lineitem(s, d)),
      () => """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""),
    QuerySpec("events_gapfill", (s, d) => AggOps.eventsGapfill(Tables.events(s, d)),
      () => """WITH h AS (SELECT CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS hour_sec,
             count(*) AS n, round(sum(value), 2) AS sv
           FROM events GROUP BY 1),
         b AS (SELECT min(hour_sec) AS lo, max(hour_sec) AS hi FROM h),
         spine AS (SELECT unnest(generate_series(lo, hi, 3600)) AS hour_sec FROM b)
         SELECT spine.hour_sec, coalesce(h.n, 0) AS n_events,
           coalesce(h.sv, 0.0) AS sum_value
         FROM spine LEFT JOIN h ON spine.hour_sec = h.hour_sec"""),
    QuerySpec("percentiles_by_type", (s, d) => AggOps.percentilesByType(Tables.events(s, d)),
      () => """SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
         FROM events GROUP BY event_type"""),
    QuerySpec("value_stats_by_type", (s, d) => AggOps.valueStatsByType(Tables.events(s, d)),
      () => """SELECT event_type,
           round(avg(value), 6) AS avg_v,
           round(stddev_samp(value), 6) AS stddev_v,
           round(var_samp(value), 6) AS var_v,
           round(corr(value, hour(ts)), 6) AS corr_v_hour
         FROM events GROUP BY event_type"""),
    QuerySpec("user_retention", (s, d) => AggOps.userRetention(Tables.events(s, d)),
      () => """WITH first AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
           FROM events GROUP BY user_id),
         active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
         SELECT cohort_day, CAST(d - cohort_day AS BIGINT) AS day_k,
           count(*) AS n_returned
         FROM first JOIN active USING (user_id)
         WHERE d - cohort_day BETWEEN 1 AND 7
         GROUP BY cohort_day, day_k"""),
    // Transparent-register HLL (p=12): under Verify the daily register
    // relation is dumped and the result recomputed FROM the dump, so the
    // max-union re-aggregation AND the harmonic-mean estimate are
    // oracle-checked (DuckDB runs the identical arithmetic over the same
    // registers).
    // The oracle re-aggregates the DUMPED daily register relation with the
    // identical published arithmetic (Flajolet harmonic mean + linear-counting
    // correction) — the union algebra and the estimate are cross-engine-
    // checked; the xxhash64/rho register build stays Spark-side (it IS the
    // dumped relation, spec-covered — same pattern as dedup_simhash).
    {
      val regDir = QuerySpec.dumpDir("graft_hll_registers")
      QuerySpec("hll_reaggregate", (s, d) => AggOps.hllReaggregateTransparent(Tables.events(s, d)),
        () => s"""WITH regs AS (SELECT day, event_type, bucket, r
             FROM read_parquet('$regDir/*.parquet')),
         u AS (SELECT event_type, bucket, max(r) AS r FROM regs GROUP BY 1, 2),
         agg AS (SELECT event_type, sum(power(2.0, -r)) AS sp,
             count(*) AS np FROM u GROUP BY 1),
         est AS (SELECT event_type,
             0.7213 / (1 + 1.079 / 4096.0) * 4096 * 4096 / (sp + (4096 - np)) AS raw,
             4096 - np AS zeros FROM agg)
         SELECT e.event_type,
           round(CASE WHEN raw <= 2.5 * 4096 AND zeros > 0
             THEN 4096 * ln(4096 / zeros::DOUBLE) ELSE raw END, 2) AS est_users,
           d.n_days
         FROM est e JOIN (SELECT event_type,
             CAST(count(DISTINCT day) AS BIGINT) AS n_days
           FROM regs GROUP BY 1) d USING (event_type)""",
        verify = Some { (s, d) =>
          AggOps.hllDailyRegisters(Tables.events(s, d)).coalesce(1)
            .write.mode("overwrite").parquet(regDir)
          AggOps.hllReaggregateFromRegisters(readParquet(s, regDir))
        })
    },
    QuerySpec("events_hourly", (s, d) => AggOps.eventsHourly(Tables.events(s, d)),
      () => """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
         count(*) AS n_events, round(sum(value),2) AS sum_value
         FROM events GROUP BY 1, 2"""),
    // §2 preference-(c) showcase: custom LogicalPlan+Strategy+Exec operator
    QuerySpec("topk_custom_operator", (s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice_r"))
      graft.plans.TopK.perGroup(o, Seq("o_custkey"),
        Seq(o("o_totalprice_r").desc, o("o_orderkey")), 3)
    }, () => """SELECT o_custkey, o_orderkey, o_totalprice_r FROM (
           SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS o_totalprice_r,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY round(o_totalprice,2) DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3"""),
  )
}
