package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Portable.pround

/** The general relational surface (SURVEY.md §2.2 "absent in reference"
  * rows): joins, window functions, set ops, top-k, grouping sets — the
  * capabilities a real analytics engine must expose beyond jetstream's
  * filter/scan/count surface, exercised over the TPC-H-ish fixtures.
  *
  * Scale notes (the plans, not the row counts, are what matters):
  *   - Dimension joins (`nation`, `region`, `supplier`, small `customer`
  *     slices) are explicitly `broadcast()` — no shuffle of the fact side.
  *   - Fact-fact joins (orders⋈lineitem) shuffle on the join key once; at
  *     cluster scale the same plan benefits from bucketing both tables on
  *     the key, and AQE handles skew.
  *   - All aggregates are partial-aggregated map-side before the shuffle.
  *   - Top-k is orderBy+limit ⇒ TakeOrderedAndProject (per-partition heap,
  *     no global sort).
  *   - Doubles that cross the oracle boundary are rounded: Spark and
  *     DuckDB sum doubles in different orders, so raw sums differ in the
  *     last ulp; rounding collapses both to the same value.
  */
object RelationalQueries {

  /** TPC-H Q1-shaped pricing summary: the canonical wide aggregate.
    * groupBy two low-cardinality keys → 4-6 groups; map-side partial agg
    * means the shuffle moves only group states, never rows.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        pround(sum(col("l_quantity")), 2).as("sum_qty"),
        pround(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        pround(avg(col("l_quantity")), 4).as("avg_qty"),
        pround(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-shaped top-k revenue: fact⋈fact⋈dim with a broadcast
    * customer-segment filter, grouped, top-10. The customer side is
    * filtered to one segment before the join, so it broadcasts; the
    * orders⋈lineitem join shuffles on orderkey.
    */
  def q3TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q6-shaped forecast revenue: the pure scan-aggregate — every
    * conjunct (date range, discount band, quantity cap) is scan-
    * pushable, so the plan is one pruned parquet read into a single
    * partial-agged reduce with no shuffle of row data at all. The
    * discount band uses mid-step bounds (0.025/0.075 around the 0.01
    * grid) so no stored value sits on a float-compare boundary.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.025 && col("l_discount") <= 0.075 &&
        col("l_quantity") < 24)
      .agg(
        pround(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q14-shaped promo share: lineitem⋈part with the dim side
    * broadcast, and the share computed as a conditional aggregate in
    * the SAME pass (no second scan for the denominator).
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(pround(
        lit(100.0) * sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          sum(rev), 4).as("promo_share"))
  }

  /** TPC-H Q18-shaped large-quantity orders: a HAVING-gated aggregate
    * over the fact table joined back to orders/customer, top-10 by
    * price. The quantity aggregate runs FIRST and its survivor set is
    * tiny, so the join back to orders probes with a small build side;
    * the final ordering is TakeOrderedAndProject.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
        pround(col("o_totalprice"), 2).as("o_price"), col("sum_qty"))
      .orderBy(col("o_price").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q19-shaped disjunctive predicate join: three OR'd conjunct
    * groups mixing dim (brand, size) and fact (quantity) predicates.
    * Catalyst extracts the common join key and pushes the per-side
    * residuals (brand∈{...}, quantity range hull) below the join —
    * the pattern that turns an apparent cross-filter into a normal
    * broadcast equi-join with residual condition.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 40))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(
        pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Skew-safe salted shuffle join ([[graft.operators.Salting]]): the
    * manual remedy for a join key too hot for AQE's skew splitting —
    * fact rows fan out over 8 salt buckets, the dim side explodes ×8,
    * and the shuffle_hash hint keeps the demo on the shuffle path
    * salting exists for. Result is IDENTICAL to the plain join (the
    * oracle SQL is the unsalted join) — salting changes the shuffle
    * layout, never the answer.
    */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Salting
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      .hint("shuffle_hash")
    Salting.saltedJoin(Tables.orders(spark, dir), dim,
        key = "o_custkey", discriminator = col("o_orderkey"), salts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        pround(sum(col("o_totalprice")), 2).as("revenue"))
  }

  /** Co-located orders⋈customer through the bucketed layout
    * ([[graft.store.Bucketing]]): both sides written bucketed+sorted on
    * the customer key, so the executed plan is SortMergeJoin over two
    * bare bucketed scans — ZERO Exchange anywhere (the follow-up
    * per-customer aggregate reuses the same partitioning). The `merge`
    * hint pins SMJ (a broadcast would hide the co-location property
    * this query exists to exercise); LayoutSpec asserts the
    * exchange-free plan. At 100 TB this is the recurring-join posture:
    * the shuffle is paid once at layout time, not per query.
    */
  /** Bucketed layouts already built by this JVM, keyed by source dir —
    * the layout is the amortized once-per-table cost ("shuffle paid at
    * layout time"), so repeat invocations measure the JOIN, not a
    * table rewrite. A new dir (different SF) still rebuilds.
    */
  private val bucketedBuilt = scala.collection.mutable.Set.empty[String]

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.Bucketing
    bucketedBuilt.synchronized {
      if (!bucketedBuilt.contains(dir)) {
        Bucketing.writeBucketed(
          Tables.orders(spark, dir).select("o_custkey", "o_totalprice"),
          "graft_bucketed_orders", "o_custkey", buckets = 8)
        Bucketing.writeBucketed(
          Tables.customer(spark, dir).select("c_custkey", "c_mktsegment"),
          "graft_bucketed_customer", "c_custkey", buckets = 8)
        bucketedBuilt.clear() // one layout registered at a time per JVM
        bucketedBuilt += dir
      }
    }
    spark.table("graft_bucketed_orders").hint("merge")
      .join(spark.table("graft_bucketed_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        pround(sum(col("o_totalprice")), 2).as("total_spent"))
  }

  /** TPC-H Q4-shaped priority count via a CORRELATED EXISTS subquery —
    * Catalyst decorrelates it into a left-semi join whose correlated
    * predicate (`l_shipdate > o_orderdate + 60 days`) becomes a join
    * condition; the explicit-semi twin is [[joinSemi]]. SQL-entry
    * surface, like `grouping_sets`.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_q4")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_q4")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders_q4
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem_q4
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin)
  }

  /** Correlated SCALAR subquery: orders priced above their own
    * customer's average order value, rolled up by priority. Written as
    * the correlated form deliberately — Catalyst decorrelates it into
    * an aggregate-then-join (one shuffle keyed on custkey, no per-row
    * subquery execution), which PlanAuditSpec pins: the executed plan
    * must contain a single join of orders against a pre-aggregated
    * per-customer average, the shape a hand-decorrelated window/join
    * rewrite would produce.
    */
  def aboveAvgOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_aao")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS sum_price
        |FROM orders_aao o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders_aao o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q13-shaped customer-order distribution: LEFT OUTER join
    * preserved through a TWO-LEVEL aggregation (orders per customer,
    * then customers per order count) — the count(col) null-skip on the
    * outer side is what keeps 0-order customers in the c_count=0 bucket.
    */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // nulls (no orders) → 0
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q5-shaped local-supplier revenue: the 6-way star join.
    * region→nation are tiny broadcasts; supplier broadcasts; the only
    * shuffles are the two fact joins. Group on nation name.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** Left outer join: order count + total spend per customer, keeping
    * customers with no orders (null-safe aggregation over the outer side).
    */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        pround(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))

  /** Left-semi join: customers with ≥1 urgent order. This is jetstream's
    * S14/S15 set-membership filter generalized to a real table-vs-table
    * semi join (SURVEY §2.2: "degenerate broadcast semi joins"). The
    * filtered orders side broadcasts.
    */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(broadcast(urgent), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Left-anti join: customers with no orders at all. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val ordered = Tables.orders(spark, dir).select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(broadcast(ordered), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Window / running total: cumulative spend per customer over order
    * time. One shuffle on custkey; in-partition sort; rows-unbounded-
    * preceding frame. Deterministic tie-break on orderkey.
    */
  def windowRunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("running_spend", pround(sum(col("o_totalprice")).over(w), 2))
  }

  /** Window / top-N per group: each customer's 3 largest orders by price
    * (row_number desc, orderkey tie-break for determinism).
    *
    * Skew note: a key-partitioned window funnels each key through one
    * task and AQE cannot split it. Customer keys here are near-uniform;
    * for a skewed key domain use the aggregation form instead (see
    * `latest_per_user` / PERF.md round-2 skew section) or pre-bucket
    * the table on the key so the window runs shuffle-free per bucket.
    */
  def windowTopPerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }

  /** Window / lag: days between consecutive orders of a customer —
    * jetstream's S27 inter-event-gap derivation generalized per key.
    */
  def windowOrderGap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days", datediff(col("o_orderdate"), col("prev_date")).cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("gap_days"))
  }

  /** Set ops — INTERSECT: users who both clicked and purchased. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.filter(col("event_type") === "click").select(col("user_id"))
      .intersect(e.filter(col("event_type") === "purchase").select(col("user_id")))
  }

  /** Set ops — EXCEPT at (user, day) granularity: days a user viewed but
    * didn't purchase.
    */
  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def slice(t: String) = e.filter(col("event_type") === t)
      .select(col("user_id"),
        to_date(timestamp_micros(expr("ts div 1000"))).as("event_date"))
    slice("view").except(slice("purchase"))
  }

  /** Set ops — EXCEPT ALL (multiplicity-preserving): each user's view
    * events minus one per purchase event on the same day. The bag
    * semantics (duplicates survive by count difference) are what
    * distinguishes this from [[setExcept]]'s set semantics.
    */
  def setExceptAll(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def slice(t: String) = e.filter(col("event_type") === t)
      .select(col("user_id"),
        to_date(timestamp_micros(expr("ts div 1000"))).as("event_date"))
    slice("view").exceptAll(slice("purchase"))
      // bag results hash-compare as grouped multiplicities
      .groupBy(col("user_id"), col("event_date"))
      .agg(count(lit(1)).as("n_surplus"))
  }

  /** Grouped ordered string aggregation (LISTAGG): each brand's 3
    * priciest part names, comma-joined in rank order. Window top-N
    * bounds the per-group state BEFORE the collect (same posture as the
    * inverted-index postings cap).
    */
  def listaggTopParts(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("p_brand"))
      // collect_list has no intra-group order guarantee — sort the
      // (rn, name) structs, then project names, before joining
      .agg(concat_ws(",",
        expr("transform(array_sort(collect_list(struct(rn, p_name))), s -> s.p_name)"))
        .as("top_parts"))
  }

  /** Set ops — UNION ALL + distinct aggregation across two sources. */
  def setUnion(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey").as("custkey"))
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    big.union(urgent).distinct()
  }

  /** ROLLUP grouping sets over (returnflag, linestatus) — subtotal rows
    * carry nulls exactly as ANSI ROLLUP defines, matching DuckDB.
    */
  def rollupPricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_items"),
        pround(sum(col("l_quantity")), 2).as("sum_qty"))

  /** Top-k: 10 priciest parts — planned as TakeOrderedAndProject. */
  def topkParts(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
      .limit(10)

  /** Exact distinct cardinality per group (the oracle-checkable twin of
    * approx_count_distinct; the HLL variant is benched but not
    * oracle-gated since sketches aren't bit-identical across engines).
    */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))

  /** Range join: orders banded by price via a non-equi BETWEEN join
    * against a small literal dimension (SURVEY §2.2 joins row: "range
    * join"). The bands side is a handful of rows — broadcast
    * nested-loop is exactly the right plan; at scale with a large bands
    * table one pre-buckets both sides on a computed band key.
    */
  def rangeJoinBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("small", 0.0, 100000.0),
      ("medium", 100000.0, 250000.0),
      ("large", 250000.0, 450000.0),
      ("jumbo", 450000.0, 1e9)).toDF("band", "lo", "hi")
    Tables.orders(spark, dir)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_orders"),
        pround(sum(col("o_totalprice")), 2).as("band_total"))
  }

  /** Window extras: first/last value over full frames + quartile ntile
    * per customer order history.
    */
  def windowExtras(spark: SparkSession, dir: String): DataFrame = {
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = byDate.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("first_price", first(col("o_totalprice")).over(full))
      .withColumn("last_price", last(col("o_totalprice")).over(full))
      .withColumn("quartile", ntile(4).over(byDate).cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("first_price"),
        col("last_price"), col("quartile"))
  }

  /** Linear-regression aggregates: slope/intercept of totalprice over
    * order-date ordinal per priority class.
    */
  def regrAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"),
        col("o_totalprice").as("y"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("double").as("x"))
      .groupBy(col("o_orderpriority"))
      .agg(
        pround(expr("regr_slope(y, x)"), 6).as("slope"),
        pround(expr("regr_intercept(y, x)"), 4).as("intercept"),
        pround(expr("regr_r2(y, x)"), 6).as("r2"))

  /** Pivot: order counts per priority × year, years widened to columns
    * (explicit value list ⇒ deterministic schema, single-pass plan).
    */
  def pivotPriorityYear(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), year(col("o_orderdate")).as("yr"))
      .groupBy(col("o_orderpriority"))
      .pivot("yr", Seq(1995, 1996, 1997, 1998, 1999, 2000, 2001))
      .agg(count(lit(1)))
      .select(col("o_orderpriority") +: (1995 to 2001).map(y =>
        coalesce(col(y.toString), lit(0L)).as(s"y$y")): _*)

  /** Unpivot: the pricing measures reshaped long — (measure, total) rows
    * per returnflag.
    */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        pround(sum(col("l_quantity")), 2).as("qty"),
        pround(sum(col("l_extendedprice")), 2).as("price"),
        pround(sum(col("l_discount")), 2).as("disc"))
      .selectExpr("l_returnflag",
        "stack(3, 'qty', qty, 'price', price, 'disc', disc) as (measure, total)")

  /** As-of join: for each event, the customer's most recent order at or
    * before the event time (event enrichment against a slowly-changing
    * fact — SURVEY §2.2 joins row: "as-of join for event↔dimension
    * enrichment").
    *
    * Shape: orders are collapsed to one row per key carrying a date
    * array, then joined 1:1 and probed with `array_max(filter(...))` —
    * an equi-join whose output cardinality equals the probe side, vs the
    * naive inequality-join + re-aggregate which multiplies every event
    * by every matching order before collapsing again (measured 7-9 s vs
    * <1 s here; the gap widens with per-key history length). At cluster
    * scale the per-key array is bounded by per-customer history, and the
    * equi-join buckets/broadcasts like any dimension join.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"))
    val byCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(collect_list(col("o_orderdate")).as("dates"))
    e.join(byCust, col("user_id") === col("o_custkey"), "left")
      .select(col("event_id"), col("user_id"),
        expr("array_max(filter(dates, d -> d <= ts))").as("asof_orderdate"))
  }
}
