package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation / analytics operators over the star schema.
  *
  * Reference analog: the Hive-on-MapReduce era workloads that hadoop-2.7.1
  * executed as chained MR jobs (map-side partial combine → shuffle → reduce;
  * see hadoop-mapreduce-project/.../mapreduce/Reducer.java:1 and the combiner
  * contract in Job.setCombinerClass). Each op here is a single declarative
  * plan: Catalyst plans partial aggregation (map-side combine) automatically,
  * AQE re-plans shuffles at runtime, and every filter/projection is pushed
  * into the parquet scan.
  *
  * Scale notes (100 TB): every groupBy key here is either low-cardinality
  * (flags, months, event types — partial agg collapses the shuffle to ~nothing)
  * or naturally partitioned (custkey, user_id — hash shuffle with AQE
  * coalescing). No op materializes on the driver.
  */
object AggOps {

  /** TPC-H Q1 pricing summary: wide aggregate with map-side partial agg.
    * Doubles rounded so hash-compare survives summation-order differences. */
  def q1PricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3 shipping priority: selective dim filter → join → agg → top-k.
    * The customer filter is pushed to the scan; orders/lineitem join is a
    * shuffle join; top-k is TakeOrdered (no global sort materialized). */
  def q3ShippingPriority(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    customer.filter(col("c_mktsegment") === "BUILDING")
      .join(orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_orderkey"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 local-supplier volume: 6-way star join. region/nation/supplier
    * are broadcast (small dims at any SF); orders⋈lineitem is the only real
    * shuffle. */
  def q5LocalSupplier(region: DataFrame, nation: DataFrame, customer: DataFrame,
                      supplier: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame =
    region.filter(col("r_name") === "ASIA")
      .join(broadcast(nation), col("n_regionkey") === col("r_regionkey"))
      .join(customer, col("c_nationkey") === col("n_nationkey"))
      .join(orders, col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey") &&
                                 col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))

  /** TPC-H Q6 forecast revenue: pushdown showcase — all three predicates land
    * in the parquet scan; result is a single partial-agg'd scalar. */
  def q6ForecastRevenue(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
           count(lit(1)).as("n_rows"))

  /** TPC-H Q10 returned items: join + group by high-cardinality customer key. */
  def q10ReturnedItems(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                       nation: DataFrame): DataFrame =
    lineitem.filter(col("l_returnflag") === "R")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q4 (adapted): priority counts of orders with a late shipment
    * (no commit/receipt dates in this schema → ship > order + 90 days).
    * EXISTS → left_semi; date arithmetic stays in the pushed filter. */
  def q4OrderPriority(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))

  /** TPC-H Q7 (adapted): shipping volume between two nation pairs by year.
    * Both nation lookups broadcast; one fact shuffle. */
  def q7VolumeShipping(supplier: DataFrame, lineitem: DataFrame, orders: DataFrame,
                       customer: DataFrame, nation: DataFrame): DataFrame = {
    val n1 = nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = nation.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
              (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        date_format(col("l_shipdate"), "yyyy").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** TPC-H Q9 (adapted): promo-part revenue by supplier nation × order year
    * (no partsupp cost column in this schema → revenue, not profit). */
  def q9NationRevenue(supplier: DataFrame, lineitem: DataFrame, part: DataFrame,
                      orders: DataFrame, nation: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part.filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        date_format(col("o_orderdate"), "yyyy").as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))

  /** TPC-H Q14: promo revenue share — conditional aggregation ratio. */
  def q14PromoShare(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(round(
        sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) * 100.0 /
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("promo_share"),
        count(lit(1)).as("n_rows"))

  /** TPC-H Q18: large-volume customers — IN over a grouped HAVING subquery
    * (plans as an aggregate + semi join on the fact key). */
  def q18LargeOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                     minQty: Double = 150): DataFrame = {
    val bigOrders = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
      .select(col("l_orderkey"), round(col("total_qty"), 2).as("total_qty_r"))
    orders.join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        round(col("o_totalprice"), 2).as("o_totalprice_r"), col("total_qty_r"))
  }

  /** Correlated scalar subquery through the SQL TEXT interface (spark.sql):
    * parts priced at the minimum of their type. Catalyst decorrelates the
    * subquery into an aggregate + join — same plan shape as the hand-written
    * form, demonstrating the full SQL front-end over graft's tables. */
  def correlatedMinPerType(spark: org.apache.spark.sql.SparkSession, part: DataFrame): DataFrame = {
    part.createOrReplaceTempView("graft_part_v")
    spark.sql(
      """SELECT p_partkey, p_type, round(p_retailprice, 2) AS price
        |FROM graft_part_v p
        |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
        |                       FROM graft_part_v p2
        |                       WHERE p2.p_type = p.p_type)""".stripMargin)
  }

  /** TPC-H Q2 (adapted): minimum-cost supplier per ECONOMY part among ASIA
    * suppliers, with lineitem as the partsupp proxy (per part×supplier unit
    * cost = min extendedprice/quantity shipped). The classic correlated
    * formulation references the aggregated CTE twice and Spark INLINES CTEs,
    * so the fact table would be scanned and aggregated TWICE — at 100 TB
    * that doubles the dominant cost. Restated as a window-min over ONE
    * aggregate: same keep-all-ties semantics (min per partkey is unaffected
    * by the ECONOMY semi-restriction because a partkey's rows are kept or
    * dropped as a whole), single lineitem scan, window input is only the
    * candidate aggregate rows. */
  def q2MinCostSupplier(spark: org.apache.spark.sql.SparkSession, part: DataFrame,
                        supplier: DataFrame, lineitem: DataFrame,
                        nation: DataFrame, region: DataFrame): DataFrame = {
    part.createOrReplaceTempView("graft_q2_part")
    supplier.createOrReplaceTempView("graft_q2_supplier")
    lineitem.createOrReplaceTempView("graft_q2_lineitem")
    nation.createOrReplaceTempView("graft_q2_nation")
    region.createOrReplaceTempView("graft_q2_region")
    spark.sql(
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         floor(min(l_extendedprice / l_quantity) * 10000) / 10000 AS unit_cost
        |  FROM graft_q2_lineitem GROUP BY l_partkey, l_suppkey),
        |aps AS (
        |  SELECT ps.l_partkey, ps.l_suppkey, ps.unit_cost, s.s_name, n.n_name
        |  FROM ps JOIN graft_q2_supplier s ON ps.l_suppkey = s.s_suppkey
        |  JOIN graft_q2_nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN graft_q2_region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'ASIA'),
        |cand AS (
        |  SELECT p.p_partkey, p.p_name, a.s_name, a.n_name, a.unit_cost
        |  FROM graft_q2_part p JOIN aps a ON p.p_partkey = a.l_partkey
        |  WHERE p.p_type = 'ECONOMY')
        |SELECT p_partkey, p_name, s_name, n_name, unit_cost
        |FROM (SELECT c.*, min(c.unit_cost) OVER (PARTITION BY c.p_partkey) AS min_cost
        |      FROM cand c)
        |WHERE unit_cost = min_cost""".stripMargin)
  }

  /** TPC-H Q8 (adapted): NATION_7's market share of ASIA-customer order
    * volume by year — two nation lookups (customer side restricts to the
    * region, supplier side labels the seller), conditional-agg ratio.
    * All dims broadcast; one fact shuffle for the year rollup. */
  def q8MarketShare(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                    supplier: DataFrame, nation: DataFrame, region: DataFrame,
                    targetNation: String = "NATION_7"): DataFrame = {
    val custNation = nation.join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val suppNation = nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNation), col("c_nationkey") === col("c_nk"), "left_semi")
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .withColumn("volume", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .groupBy(date_format(col("o_orderdate"), "yyyy").as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === targetNation, col("volume")).otherwise(0.0)) /
        sum(col("volume")), 6).as("mkt_share"))
  }

  /** TPC-H Q15 (adapted): top supplier(s) by quarterly revenue — aggregate,
    * then keep the rows matching the GLOBAL max (scalar-subquery shape; in
    * DataFrame form the 1-row max relation is broadcast, so there is no
    * second pass over the fact). */
  def q15TopSupplier(supplier: DataFrame, lineitem: DataFrame): DataFrame = {
    val rev = lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("mx"))
    rev.join(broadcast(maxRev), col("total_rev") === col("mx"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
  }

  /** TPC-H Q16 (adapted): distinct supplier count per (p_type, p_size) for
    * non-PROMO parts, EXCLUDING complained-about suppliers — the NOT IN
    * form plans as a null-aware anti join (broadcast: the exclusion list is
    * tiny), then count(distinct) per group. */
  def q16SupplierCount(spark: org.apache.spark.sql.SparkSession, part: DataFrame,
                       supplier: DataFrame, lineitem: DataFrame): DataFrame = {
    part.createOrReplaceTempView("graft_q16_part")
    supplier.createOrReplaceTempView("graft_q16_supplier")
    lineitem.createOrReplaceTempView("graft_q16_lineitem")
    spark.sql(
      """SELECT p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM graft_q16_part JOIN graft_q16_lineitem ON p_partkey = l_partkey
        |WHERE p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM graft_q16_supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_type, p_size""".stripMargin)
  }

  /** TPC-H Q17 (adapted): revenue from small-quantity orders of SMALL parts
    * — quantity below 20% of that part's average (correlated scalar AVG
    * subquery; Catalyst decorrelates to an aggregate + join on p_partkey). */
  def q17SmallQtyRevenue(spark: org.apache.spark.sql.SparkSession, part: DataFrame,
                         lineitem: DataFrame): DataFrame = {
    part.createOrReplaceTempView("graft_q17_part")
    lineitem.createOrReplaceTempView("graft_q17_lineitem")
    spark.sql(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM graft_q17_lineitem JOIN graft_q17_part ON p_partkey = l_partkey
        |WHERE p_type = 'SMALL'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM graft_q17_lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  /** TPC-H Q20 (adapted): suppliers who shipped > minQty units of PROMO
    * parts, with their nation — IN over a grouped HAVING subquery nested
    * inside a dim join (semi join on the aggregated fact). */
  def q20PromoSuppliers(supplier: DataFrame, nation: DataFrame, lineitem: DataFrame,
                        part: DataFrame, minQty: Double = 100): DataFrame = {
    val promoQty = lineitem
      .join(broadcast(part.filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("promo_qty"))
      .filter(col("promo_qty") > minQty)
    supplier
      .join(promoQty, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
  }

  /** TPC-H Q11 (adapted; no partsupp table — lineitem value plays the
    * partsupp value role): per-part supplied value restricted to one
    * nation-set's suppliers, keeping parts whose value exceeds a fixed
    * fraction of the GLOBAL total over the same restriction. The HAVING
    * compares a group agg against an uncorrelated scalar subquery — Catalyst
    * plans the total as its own partial-agg tree and broadcasts the 1-row
    * result, so the fact table is scanned twice but shuffled only as
    * partial aggregates (reference analog: two chained MR jobs,
    * hadoop-mapreduce-examples/.../WordMedian.java:1 two-pass shape). */
  def q11ImportantParts(spark: org.apache.spark.sql.SparkSession, supplier: DataFrame,
                        lineitem: DataFrame, fraction: Double = 0.001): DataFrame = {
    supplier.createOrReplaceTempView("graft_q11_supplier")
    lineitem.createOrReplaceTempView("graft_q11_lineitem")
    spark.sql(
      s"""SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
         |FROM graft_q11_lineitem JOIN graft_q11_supplier ON l_suppkey = s_suppkey
         |WHERE s_nationkey < 13
         |GROUP BY l_partkey
         |HAVING sum(l_extendedprice * (1 - l_discount)) > (
         |  SELECT $fraction * sum(l_extendedprice * (1 - l_discount))
         |  FROM graft_q11_lineitem JOIN graft_q11_supplier ON l_suppkey = s_suppkey
         |  WHERE s_nationkey < 13)""".stripMargin)
  }

  /** TPC-H Q12 (adapted; l_returnflag plays the ship-mode role): counts of
    * high- vs low-priority orders per flag over a ship-date year — join +
    * conditional aggregation (sum of CASE), one shuffle after partial aggs. */
  def q12ReturnflagPriority(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("low_line_count"))

  /** TPC-H Q13: orders-per-customer distribution INCLUDING zero-order
    * customers — left outer join with the exclusion predicate in the ON
    * clause (not a post-filter: that would drop the NULL rows), then a
    * second aggregation over the per-customer counts. */
  def q13CustomerDistribution(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey") &&
        col("o_orderpriority") =!= "1-URGENT", "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q19: disjunctive (OR-of-ANDs) predicate revenue. The brand/size/
    * quantity disjunction cannot be pushed as one conjunct, but Catalyst
    * extracts the common join key and pushes per-side IN/range bounds
    * (`p_brand IN (...)`, `l_quantity <= 30`) into both parquet scans. */
  def q19DiscountedRevenue(part: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem.join(part, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#9" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30)))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))

  /** TPC-H Q21 (adapted; returnflag plays the late-receipt role): suppliers
    * that were the ONLY supplier with a returned line on a finished
    * multi-supplier order — correlated EXISTS + NOT EXISTS against the same
    * fact table, decorrelated by Catalyst into semi/anti joins on
    * l_orderkey. */
  def q21LoneReturners(spark: org.apache.spark.sql.SparkSession, supplier: DataFrame,
                       orders: DataFrame, lineitem: DataFrame): DataFrame = {
    supplier.createOrReplaceTempView("graft_q21_supplier")
    orders.createOrReplaceTempView("graft_q21_orders")
    lineitem.createOrReplaceTempView("graft_q21_lineitem")
    spark.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM graft_q21_supplier
        |JOIN graft_q21_lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN graft_q21_orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM graft_q21_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM graft_q21_lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name""".stripMargin)
  }

  /** TPC-H Q22 (adapted; c_custkey mod 10 plays the phone-prefix country
    * code): wealthy customers (balance above the positive-balance average —
    * uncorrelated scalar subquery) with NO orders (NOT EXISTS → anti join),
    * grouped by synthetic country code. */
  def q22GlobalSales(spark: org.apache.spark.sql.SparkSession, customer: DataFrame,
                     orders: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("graft_q22_customer")
    orders.createOrReplaceTempView("graft_q22_orders")
    spark.sql(
      """SELECT c_custkey % 10 AS cntrycode, count(*) AS numcust,
        |       round(sum(c_acctbal), 2) AS totacctbal
        |FROM graft_q22_customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM graft_q22_customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM graft_q22_orders
        |                  WHERE o_custkey = c_custkey)
        |GROUP BY c_custkey % 10""".stripMargin)
  }

  /** Top-k rows per group via ranked window — the scalable "per-key top-N". */
  def windowTopKPerGroup(orders: DataFrame, k: Int = 3): DataFrame = {
    orders.select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice_r"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice_r").desc, col("o_orderkey"))))
      .filter(col("rn") <= k)
      // Cast AFTER the filter: the driver's oracle emits BIGINT ranks, but the
      // Filter∘Window(row_number) shape must stay intact underneath so
      // RowNumberTopKRewrite (GraftExtensions) can plan it as TopKRankedExec.
      .withColumn("rn", col("rn").cast("long"))
  }

  /** Running aggregate over an ordered per-key window. */
  def windowRunningSum(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
  }

  /** ROLLUP grouping sets; NULL grouping keys coalesced to 'ALL' so the
    * DuckDB hash-compare is unambiguous. */
  def aggRollup(lineitem: DataFrame): DataFrame =
    lineitem.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_qty"), col("n_rows"))

  /** CUBE grouping sets over two dims (all 4 grouping combinations). */
  def aggCube(lineitem: DataFrame): DataFrame =
    lineitem.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"), count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_price"), col("n_rows"))

  /** PIVOT: event counts per month × event type (wide table). Explicit pivot
    * values keep the schema static — required for plan stability at scale. */
  def pivotEvents(events: DataFrame): DataFrame =
    events.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** UNPIVOT — the inverse reshape of pivotEvents: the wide per-day table
    * melts back to long (day, event_type, n_events) rows via the native
    * unpivot operator (Expand under the hood, map-side only). Round-trip
    * with pivotEvents is the schema-evolution pattern for wide metric
    * tables. */
  def unpivotEvents(events: DataFrame): DataFrame =
    pivotEvents(events)
      .unpivot(Array(col("day")),
        Seq("click", "error", "purchase", "signup", "view").map(col).toArray,
        "event_type", "n_events")

  /** Set operations: customers ordering in BOTH years (INTERSECT), and in
    * 1996 but not 1997 (EXCEPT) — tagged and unioned into one relation. */
  def setOps(orders: DataFrame): DataFrame = {
    def buyers(yr: Int) = orders
      .filter(col("o_orderdate") >= lit(s"$yr-01-01").cast("timestamp") &&
              col("o_orderdate") < lit(s"${yr + 1}-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val both = buyers(1996).intersect(buyers(1997)).withColumn("tag", lit("both"))
    val only96 = buyers(1996).except(buyers(1997)).withColumn("tag", lit("only_1996"))
    both.unionAll(only96)
  }

  /** Exact distinct counts (the oracle-checkable face of cardinality ops;
    * at 100 TB prefer approx_count_distinct — see benchmarks). */
  def distinctCount(lineitem: DataFrame): DataFrame =
    lineitem.agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_orderkey")).as("n_orders"))

  /** Time-bucketed aggregate; month emitted as a string so the compare is
    * type-stable across engines. */
  def ordersByMonth(orders: DataFrame): DataFrame =
    orders.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))

  /** DBCountPageView analog (reference:
    * hadoop-mapreduce-examples/src/main/java/org/apache/hadoop/examples/DBCountPageView.java:1):
    * pageview-style rollup by type. */
  def dbPageview(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))

  /** Batch sessionization: per-user lag-gap > 30 min starts a new session.
    * Two windows over the same (user_id, ts) ordering → one shuffle; at
    * 100 TB this partitions by user_id (high cardinality, no hot keys). */
  def sessionize(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val secs = unix_timestamp(col("ts"))
    val newSession = when(lag(secs, 1).over(byUser).isNull ||
                          secs - lag(secs, 1).over(byUser) > gapSec, 1).otherwise(0)
    events
      .withColumn("session_id", sum(newSession).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
           date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
  }

  /** AS-OF join (point-in-time lookup), composed from a single window — the
    * preference-(a) form of an operator Spark lacks natively: for every
    * event, the value/time of the user's most recent purchase at-or-before
    * it. One shuffle on user_id, no range join, no explosion; the carry-
    * forward (`last(..., ignoreNulls)`) is O(1) per row. Deterministic
    * tie-break via (ts, event_id). */
  def asofLastPurchase(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(
      col("event_id"), col("user_id"), col("event_type"),
      last(when(col("event_type") === "purchase", unix_timestamp(col("ts"))),
        ignoreNulls = true).over(w).as("last_purchase_epoch"),
      round(last(when(col("event_type") === "purchase", col("value")),
        ignoreNulls = true).over(w), 2).as("last_purchase_value"))
  }

  /** Semi-structured extraction: pull typed fields out of the JSON props
    * column and aggregate. get_json_object is codegen'd; at scale prefer
    * from_json with an explicit schema once the shape is known (single parse,
    * columnar after). */
  def jsonPropsAgg(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_with_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Sketch-based approximations: 2 approx distinct counts + 3 price
    * quantiles, every stage re-runnable by any engine:
    *   - distincts: the p=12 register-relation HLL (see [[hllDailyRegisters]])
    *     over l_partkey / l_orderkey — registers dump as rows, the estimate
    *     is the published Flajolet harmonic-mean formula;
    *   - quantiles: a DETERMINISTIC md5 sample (first hex nibble of
    *     md5(orderkey-linenumber) = '0', an exact 1/16 Bernoulli sample both
    *     engines compute identically) + the k = ceil(q·n) order statistic
    *     over the sample — integer rank selection, so no interpolation
    *     arithmetic can diverge across engines.
    * Scale: the register relation is ≤ 2·4096 rows regardless of input; the
    * sample's global rank is the two-phase range-partitioned shape (see
    * [[approxSketchFromRegisters]]) so no stage serializes it — and at
    * 100 TB widen the md5 prefix (2 chars = 1/256, 3 = 1/4096) to keep the
    * shuffled sample small; error ~ 1/√sample stays ample for quantiles. */
  def approxSketchRegisters(lineitem: DataFrame): DataFrame = {
    // ONE scan for both register families: explode the two (which, hash)
    // pairs map-side (codegen'd GenerateExec), partial-agg to ≤ 2·4096
    // groups before the tiny shuffle. The r6-r8 form union'd two scans of
    // lineitem — at 100 TB that is reading the fact table twice.
    val pairs = lineitem.select(explode(array(
        struct(lit("parts").as("which"), xxhash64(col("l_partkey")).as("h")),
        struct(lit("orders").as("which"), xxhash64(col("l_orderkey")).as("h")))).as("e"))
      .select(col("e.which").as("which"), col("e.h").as("h"))
    val (bucket, rho) = hllBucketRho(col("h"))
    pairs.select(col("which"), bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("which"), col("bucket")).agg(max(col("rho")).as("r"))
  }

  def approxSketchFromRegisters(lineitem: DataFrame, regs: DataFrame): DataFrame = {
    val ests = hllEstimateByKey(regs, "which").agg(
      round(max(when(col("which") === "parts", col("est"))), 2).as("approx_parts"),
      round(max(when(col("which") === "orders", col("est"))), 2).as("approx_orders"))
    // Global rank via the TeraSort two-phase shape (same as packSequences):
    // deterministic log-scale value buckets (Buckets.logBucket — a pure
    // row function, so the counts branch and the rank branch agree by
    // construction, with no dependence on range-exchange boundary reuse
    // and no bounds-collection job), per-bucket row_number, plus a
    // broadcast of per-bucket counts — no single-partition global sort, so
    // the rank stage scales with the sample instead of serializing it.
    // Equal v land in one bucket, so offset + intra is a total order
    // consistent with v; the rank-k VALUE is tie-order-independent either
    // way. perDecade=50: prices span ~2 decades → ~100 live buckets.
    val sample = lineitem.filter(
      substring(md5(concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string"))), 1, 1) === "0")
      .select(col("l_extendedprice").as("v"))
      .withColumn("pid", graft.ops.Buckets.logBucket(col("v"), perDecade = 50))
    val offsets = sample.groupBy(col("pid")).agg(count(lit(1)).as("pcnt"))
      .withColumn("offset", coalesce(sum(col("pcnt")).over(
        // ≤ shuffle-partitions rows — the tiny phase-2 window
        Window.partitionBy(lit(0)).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val n = offsets.agg(sum(col("pcnt")).as("n"))
    val ranked = sample
      .withColumn("intra", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("v"))).cast("long"))
      .join(broadcast(offsets.select(col("pid"), col("offset"))), "pid")
      .select(col("v"), (col("offset") + col("intra")).as("rn"))
    // k-th order statistic is tie-order-independent; ceil(q·n) is one IEEE
    // multiply + ceil in both engines → identical k.
    val qs = ranked.crossJoin(broadcast(n)).agg(
      max(when(col("rn") === ceil(lit(0.5) * col("n")), col("v"))).as("q50"),
      max(when(col("rn") === ceil(lit(0.95) * col("n")), col("v"))).as("q95"),
      max(when(col("rn") === ceil(lit(0.99) * col("n")), col("v"))).as("q99"))
    ests.crossJoin(qs)
  }

  def approxSketchTransparent(lineitem: DataFrame): DataFrame =
    approxSketchFromRegisters(lineitem, approxSketchRegisters(lineitem))

  /** Ordered funnel conversion (view → click → purchase): per stage, the
    * earliest qualifying time must STRICTLY follow the previous stage's.
    * Times are compared at epoch-second resolution on both engines (Spark
    * unix_timestamp floors; the oracle floors epoch() explicitly) so the
    * cross-engine comparison is exact. Each stage is one filtered agg +
    * one equi-join on user_id — three small shuffles over per-user rows,
    * no window. */
  def funnelConversion(events: DataFrame): DataFrame = {
    val secs = unix_timestamp(col("ts"))
    def stage(evType: String, prev: DataFrame, prevT: String, outT: String) =
      events.filter(col("event_type") === evType)
        .select(col("user_id"), secs.as("s"))
        .join(prev, "user_id")
        .filter(col("s") > col(prevT))
        .groupBy(col("user_id")).agg(min(col("s")).as(outT))
    val s1 = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(secs).as("t1"))
    val s2 = stage("click", s1.select(col("user_id"), col("t1")), "t1", "t2")
    val s3 = stage("purchase", s2.select(col("user_id"), col("t2")), "t2", "t3")
    s1.agg(count(lit(1)).as("n_view")).crossJoin(
        s2.agg(count(lit(1)).as("n_view_click"))).crossJoin(
        s3.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  /** Cohort retention: users grouped by first-seen day; for day offsets
    * 1..7, how many returned. Two aggs over (user, day) pairs + one join —
    * the distinct-activity relation is the shuffle, everything after is
    * per-user-day. Dates truncate in UTC on both engines. */
  def userRetention(events: DataFrame, maxDays: Int = 7): DataFrame = {
    val first = events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    val active = events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    first.join(active, "user_id")
      .withColumn("day_k", datediff(col("d"), col("cohort_day")).cast("long"))
      .filter(col("day_k").between(1, maxDays))
      .groupBy(col("cohort_day"), col("day_k"))
      .agg(count(lit(1)).as("n_returned"))
  }

  /** Mergeable-sketch re-aggregation with a transparent HLL (p=12, m=4096
    * registers): per-day sketches of the user set, unioned up to
    * per-event-type totals — the pre-aggregated-rollup pattern (store tiny
    * daily sketches, answer month queries by register-max union, never
    * rescan raw events). The daily sketch is an EXPLICIT register relation
    * (day, event_type, bucket, r) — exactly what an HLL stores, as rows.
    * Union across days is max-per-bucket and the estimate is the published
    * harmonic-mean formula (Flajolet et al. 2007, with linear-counting
    * small-range correction), so any engine can both merge and read these
    * sketches — register relations are portable sketch storage, and the
    * whole pipeline becomes oracle-checkable (DuckDB re-aggregates the
    * dumped registers and recomputes the estimate with the identical
    * arithmetic). rho needs no custom expression: the
    * leftmost-1-bit position comes from the codegen'd smear/popcount
    * identity bit_count(smear(w)) = 64 − clz(w). */
  private val HllP = 12
  private val HllM = 1 << HllP

  /** (bucket, rho) columns for one hashed value — the per-row HLL update.
    * rho needs no custom expression: leftmost-1-bit position via the
    * codegen'd smear/popcount identity bit_count(smear(w)) = 64 − clz(w). */
  private def hllBucketRho(h: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    def smear(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val s1 = c.bitwiseOR(shiftrightunsigned(c, 1))
      val s2 = s1.bitwiseOR(shiftrightunsigned(s1, 2))
      val s4 = s2.bitwiseOR(shiftrightunsigned(s2, 4))
      val s8 = s4.bitwiseOR(shiftrightunsigned(s4, 8))
      val s16 = s8.bitwiseOR(shiftrightunsigned(s8, 16))
      s16.bitwiseOR(shiftrightunsigned(s16, 32))
    }
    val w = shiftleft(h, HllP)
    val rho = when(w === 0, lit(64 - HllP + 1))
      .otherwise(lit(65) - bit_count(smear(w)).cast("int"))
    (shiftrightunsigned(h, 64 - HllP), rho)
  }

  /** Register-max union + harmonic-mean estimate, grouped by `key`; reads
    * ONLY a register relation. Shared by the events rollup and the
    * approx_sketch distinct counts — identical published arithmetic. */
  private def hllEstimateByKey(regs: DataFrame, key: String): DataFrame = {
    val m = HllM.toDouble
    val alpha = 0.7213 / (1 + 1.079 / m)
    regs.groupBy(col(key), col("bucket")).agg(max(col("r")).as("r"))
      .groupBy(col(key))
      .agg(sum(pow(lit(2.0), -col("r"))).as("sp"), count(lit(1)).as("np"))
      // absent buckets carry register 0 → 2⁰ = 1 each; zeros = #absent
      .withColumn("sumPow", col("sp") + (lit(m) - col("np")))
      .withColumn("zeros", lit(m) - col("np"))
      .withColumn("raw", lit(alpha * m * m) / col("sumPow"))
      .withColumn("est", when(col("raw") <= 2.5 * m && col("zeros") > 0,
        lit(m) * log(lit(m) / col("zeros"))).otherwise(col("raw")))
  }

  def hllDailyRegisters(events: DataFrame): DataFrame = {
    val (bucket, rho) = hllBucketRho(xxhash64(col("user_id")))
    events.select(to_date(col("ts")).as("day"), col("event_type"),
        bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("day"), col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
  }

  /** Register-max union across days + harmonic-mean estimate; reads ONLY
    * the register relation, never raw events — the rollup contract. */
  def hllReaggregateFromRegisters(regs: DataFrame): DataFrame = {
    val est = hllEstimateByKey(regs, "event_type")
    est.join(
        regs.select(col("event_type"), col("day")).distinct()
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_days")),
        "event_type")
      .select(col("event_type"), round(col("est"), 2).as("est_users"), col("n_days"))
  }

  def hllReaggregateTransparent(events: DataFrame): DataFrame =
    hllReaggregateFromRegisters(hllDailyRegisters(events))

  /** SLIDING windows (1-hour window, 15-minute slide): each event lands in
    * exactly 4 overlapping windows — Spark expands map-side then partial-
    * aggregates, so the shuffle carries per-window partials (4× window
    * keys), not 4× events. Window starts are epoch-aligned in UTC, and the
    * start is emitted as epoch seconds so the cross-engine compare is
    * integer-exact. */
  def eventsSliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Native session windows — the built-in second formulation of
    * sessionization (next to the lag/cumsum batch op). Boundary semantics
    * differ from the lag form: session_window treats a gap of EXACTLY
    * gapSec as a NEW session (windows [t, t+gap) merge only when they
    * overlap), and the emitted end is last_event + gap, not last_event —
    * the oracle mirrors both. Also the streaming-ready shape: the same
    * expression works under a watermark with state eviction. */
  def sessionizeNative(events: DataFrame, gapSec: Long = 1800L): DataFrame =
    events
      // gap decisions at epoch-second resolution (unix_timestamp floors),
      // making the cross-engine compare exact. Boundary contract: like the
      // lag-based `sessionize`, session_window is end-inclusive — an event
      // at EXACTLY gapSec after the previous one merges; only gap > gapSec
      // splits. The oracle must use `> gapSec` too (a `>=` slipped into
      // this op's oracle and only surfaced at sf1, where exact-1800s gaps
      // first occur in the data)
      .groupBy(col("user_id"),
        session_window(timestamp_seconds(unix_timestamp(col("ts"))), s"$gapSec seconds").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end_plus_gap"),
        col("n_events"))

  /** The full ranking-function family in one pass (beyond row_number):
    * dense_rank, percent_rank, cume_dist and ntile deciles per event_type
    * ordered by (value, event_id) — the total order makes ntile's row
    * placement deterministic; the rank functions are tie-stable by
    * definition. One window spec → one shuffle, all four computed in a
    * single WindowExec. */
  def windowRankFunctions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    events.select(col("event_id"), col("event_type"), col("value"),
      dense_rank().over(w).cast("long").as("drank"),
      round(percent_rank().over(w), 6).as("prank"),
      round(cume_dist().over(w), 6).as("cdist"),
      ntile(10).over(w).cast("long").as("decile"))
  }

  /** RANGE-frame trailing window: per-user sum of the last `windowSec`
    * seconds of values at each event. Value-based frames are
    * tie-insensitive (all rows at the same timestamp share one frame), so
    * the result is engine-deterministic without an event_id tiebreak. One
    * shuffle on user_id. */
  def trailingWindowSum(events: DataFrame, windowSec: Long = 3600L): DataFrame = {
    val secs = unix_timestamp(col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(secs)
      .rangeBetween(-windowSec, Window.currentRow)
    events.select(col("user_id"), col("event_id"), secs.as("ts_sec"),
      round(sum(col("value")).over(w), 2).as("trailing_sum"))
  }

  /** Explicit GROUPING SETS (the general grouping-combination form beyond
    * ROLLUP/CUBE): per-flag totals, per-status totals, and the grand total
    * in one pass — Catalyst expands then partial-aggregates each set. */
  def groupingSetsReport(spark: org.apache.spark.sql.SparkSession,
                         lineitem: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("graft_gs_lineitem")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        |FROM graft_gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
  }

  /** Time-series gap fill: hourly event counts with missing hours
    * zero-filled between the corpus min and max hour. The spine is
    * generated from a 1-row bounds aggregate (sequence + explode — no
    * driver loop); counts left-join onto it. At 100 TB the spine is
    * hours-sized (tiny) and broadcast. */
  def eventsGapfill(events: DataFrame): DataFrame = {
    val hourSec = (floor(unix_timestamp(col("ts")) / 3600L) * 3600L).cast("long")
    val counts = events.groupBy(hourSec.as("hour_sec"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    val spine = counts.agg(min(col("hour_sec")).as("lo"), max(col("hour_sec")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour_sec"))
    spine.join(counts, Seq("hour_sec"), "left_outer")
      .select(col("hour_sec"), coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
  }

  /** Robust (median/MAD) outlier detection per group — the quality-gate
    * shape every ingest pipeline wants for numeric fields. Exact
    * percentiles are deterministic across engines (sorted-input linear
    * interpolation — identical inputs give bit-identical results), so the
    * cut |v − med| > k·MAD is oracle-exact with no boundary ambiguity.
    * Two grouped aggregations + broadcast joins of the tiny per-group
    * stats; the 100 TB swap-in is approx_percentile for both stats (same
    * plan shape, mergeable sketches instead of full sorts). k defaults to
    * 1.8 — a demo threshold: this corpus's value column is uniform, so the
    * classic 3·MAD cut selects nothing by construction. */
  def valueOutliers(events: DataFrame, k: Double = 1.8): DataFrame = {
    val med = events.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val withMed = events.join(broadcast(med), "event_type")
    val mad = withMed.groupBy(col("event_type"))
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
    withMed.join(broadcast(mad), "event_type")
      .filter(abs(col("value") - col("med")) > lit(k) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"))
  }

  /** Equi-width histogram over a numeric column: one map-side bucket
    * projection + one shuffle on ≤ nBuckets keys. */
  def valueHistogram(events: DataFrame, lo: Double = 0.0, hi: Double = 100.0,
                     nBuckets: Int = 20): DataFrame = {
    val width = (hi - lo) / nBuckets
    events
      .withColumn("bucket",
        least(greatest(floor((col("value") - lo) / width), lit(0L)), lit(nBuckets - 1L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), round(min(col("value")), 2).as("min_v"),
        round(max(col("value")), 2).as("max_v"))
  }

  /** Exact interpolated percentiles per group (the SQL-standard continuous
    * definition — DuckDB's quantile_cont computes the same). Exact
    * percentile needs the group's values together: one shuffle, sort within
    * group. The approx_sketch op is the 100 TB path (mergeable KLL-style
    * sketch, no full sort); this is the exact twin for validation. */
  def percentilesByType(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))

  /** Second-moment statistics per group: sample stddev/variance and the
    * value↔hour-of-day correlation — all single-pass mergeable aggregates
    * (sum of powers), partial-agg'd before one exchange. */
  def valueStatsByType(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        round(avg(col("value")), 6).as("avg_v"),
        round(stddev_samp(col("value")), 6).as("stddev_v"),
        round(var_samp(col("value")), 6).as("var_v"),
        round(corr(col("value"), hour(col("ts"))), 6).as("corr_v_hour"))

  def eventsHourly(events: DataFrame): DataFrame =
    events.groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
}
