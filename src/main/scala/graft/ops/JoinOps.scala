package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join operators.
  *
  * Reference analogs:
  *  - map-side merge join: hadoop-mapreduce-examples/src/main/java/org/apache/
  *    hadoop/examples/Join.java:1 (CompositeInputFormat over co-sorted inputs)
  *    → here a broadcast hash join (small side shipped to every task, zero
  *    shuffle of the big side) or a sort-merge join when both sides are big.
  *  - reduce-side join: hadoop-tools/hadoop-datajoin/src/main/java/org/apache/
  *    hadoop/contrib/utils/join/DataJoinReducerBase.java:1 (tag + shuffle +
  *    per-key cross) → Spark's shuffled sort-merge join.
  *
  * Scale notes: Catalyst auto-broadcasts below the threshold; we hint
  * explicitly where the dim is known-small at any SF. AQE converts SMJ→BHJ
  * at runtime when a side turns out small, and splits skewed partitions.
  */
object JoinOps {

  /** Map-side join analog: broadcast the dimension, group on its attribute. */
  def broadcastJoinBrandRevenue(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
           round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))

  /** Reduce-side (shuffled) outer join: customers with their order rollup,
    * keeping customers with no orders (LEFT OUTER). */
  def outerJoinCustomerOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(orders, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))

  /** EXISTS → left_semi: orders having at least one high-quantity lineitem.
    * Semi join ships only the join key of the right side. */
  def semiJoinBigOrders(orders: DataFrame, lineitem: DataFrame, minQty: Double = 49): DataFrame =
    orders.join(lineitem.filter(col("l_quantity") >= minQty).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("o_totalprice_r"))

  /** NOT EXISTS → left_anti: customers who never placed an urgent order. */
  def antiJoinIdleCustomers(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(
        orders.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  /** Range (non-equi) join: map each event value into a bucket interval
    * [lo, hi) from a small broadcast dimension — the broadcast-nested-loop
    * range-join pattern. At 100 TB the bucket table is tiny (broadcast) so
    * the fact side streams map-side with zero shuffle before the final agg;
    * for big-big range joins, bucketize both sides to an equi-key first. */
  def rangeJoinValueBuckets(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val buckets = Seq(
      (0.0, 20.0, "b0_20"), (20.0, 40.0, "b20_40"), (40.0, 60.0, "b40_60"),
      (60.0, 80.0, "b60_80"), (80.0, 1e9, "b80_up"))
      .toDF("lo", "hi", "bucket")
    events.join(broadcast(buckets), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
  }

  /** Big-big range join — when the interval side is too large to broadcast,
    * bucketize BOTH sides to an equi-key: each interval [lo, hi) replicates
    * to every width-`w` bucket it overlaps, each point maps to exactly one
    * bucket, then an equi-join on bucket + the exact containment filter.
    * Shuffle volume is points + interval-replicas (replicas ≈ interval
    * span / w), never points × intervals; the bucket equi-join shuffles,
    * AQE-coalesces and skew-splits like any other join. Pick w near the
    * median interval span so replication stays O(1) per interval. */
  def rangeJoinBucketed(points: DataFrame, valueCol: String, intervals: DataFrame,
                        w: Double = 0.5): DataFrame = {
    val ib = intervals.withColumn("_bucket",
      explode(sequence(floor(col("lo") / w).cast("long"), floor(col("hi") / w).cast("long"))))
    val pb = points.withColumn("_bucket", floor(col(valueCol) / w).cast("long"))
    pb.join(ib, "_bucket")
      .filter(col(valueCol) >= col("lo") && col(valueCol) < col("hi"))
      .drop("_bucket")
  }

  /** Big-big range-join revenue rollup: the driver-checked query form of
    * rangeJoinBucketed — a deterministic 1000-interval table (too many to
    * broadcast at real scale) against event values, aggregated per
    * interval. */
  def rangeJoinBigBigRevenue(events: DataFrame, nIntervals: Int = 1000): DataFrame = {
    val spark = events.sparkSession
    val intervals = spark.range(nIntervals).select(col("id").as("interval_id"),
      (col("id") * 0.1).as("lo"), (col("id") * 0.1 + 0.3).as("hi"))
    rangeJoinBucketed(events.select(col("event_id"), col("value")), "value", intervals)
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_points"), round(sum(col("value")), 2).as("sum_value"))
  }
}
