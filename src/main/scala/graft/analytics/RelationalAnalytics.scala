package graft.analytics

import graft.Tables
import graft.streaming.BlockHygiene
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational surface: scan/filter/agg/sort/join/union over the TPC-H-ish
  * tables. The reference never makes join-strategy or agg-strategy
  * choices (SURVEY.md §2.7/§2.10 — its only joins are hand-built keyed
  * state machines); this module exercises the declarative surface Spark
  * provides for free — broadcast vs shuffle joins, two-phase hash
  * aggregation, rank pushdown — which a user of the reference would
  * need the moment their data stops fitting one stream.
  *
  * Float determinism for the DuckDB hash-compare: double sums are
  * order-dependent, so every money aggregate casts to decimal(18,2)
  * per-row (exact, associative) and only the final result is cast back
  * to double (SURVEY.md §7.4).
  */
object RelationalAnalytics {

  /** TPC-H Q1-style pricing summary over lineitem. */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Raw columns are generated as 2-decimal values, so double→decimal
    // casts of the *columns* round identically in Spark and DuckDB;
    // casting double *products* does not (Spark rounds the shortest
    // decimal repr, DuckDB the true binary value). So: cast factors to
    // decimal first, multiply in exact decimal arithmetic.
    val price = $"l_extendedprice".cast("decimal(12,2)")
    val oneMinusDisc = lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(3,2)")
    val onePlusTax = lit(1).cast("decimal(3,2)") + $"l_tax".cast("decimal(3,2)")
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity".cast("decimal(12,2)")).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * oneMinusDisc).cast("double").as("sum_disc_price"),
        sum(price * oneMinusDisc * onePlusTax).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Top customers by total order value, with nation via broadcast dims.
    * orders (fact) shuffles once on custkey; customer joins pre-agg
    * (15 k rows at sf0.1 — broadcastable), nation (25 rows) broadcasts
    * onto it. Ranking with a full tie-breaker for hash-compare
    * determinism.
    */
  def topCustomers(spark: SparkSession, sfDir: String, n: Int = 10): DataFrame = {
    import spark.implicits._
    val revenue = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("order_cnt"))
    val cust = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", $"c_nationkey")
    val nation = Tables.nation(spark, sfDir)
      .select($"n_nationkey", $"n_name".as("nation"))
    // top-n via orderBy+limit (plans as TakeOrderedAndProject: per-
    // partition top-n then a single merge — no global-window single-
    // partition sort of the whole aggregated fact); rnk is attached on
    // the n-row result, where the window is trivially bounded
    revenue
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .orderBy($"revenue".desc, $"c_custkey".asc)
      .limit(n)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(lit(0)).orderBy($"revenue".desc, $"c_custkey".asc)))
      .select($"rnk".cast("int").as("rnk"), $"c_custkey", $"c_name", $"nation",
        $"revenue", $"order_cnt")
      .orderBy($"rnk")
  }

  /** Revenue rollup through the full dimension chain
    * orders → customer → nation → region: two broadcast hash joins on
    * the pre-aggregated fact side (the 25/5-row dims never shuffle the
    * fact table), exact decimal money math.
    */
  def revenueByRegion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
      .select($"o_custkey", $"o_totalprice")
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_nationkey")
    val n = Tables.nation(spark, sfDir).select($"n_nationkey", $"n_regionkey")
    val r = Tables.region(spark, sfDir).select($"r_regionkey", $"r_name")
    o.join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name".as("region"))
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("order_cnt"))
      .select($"region", $"revenue", $"order_cnt")
      .orderBy($"region")
  }

  /** Supplier/part margin summary: lineitem ⋈ part ⋈ supplier (the
    * TPC-H Q9 shape) — two broadcastable dims onto the fact scan,
    * decimal-exact revenue minus retail cost per (supplier, brand).
    */
  def partSupplierStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, sfDir)
      .select($"l_partkey", $"l_suppkey", $"l_quantity", $"l_extendedprice", $"l_discount")
    val p = Tables.part(spark, sfDir).select($"p_partkey", $"p_brand", $"p_retailprice")
    val s = Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_name")
    val price = $"l_extendedprice".cast("decimal(12,2)")
    val oneMinusDisc = lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(3,2)")
    l.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .join(broadcast(s), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name", $"p_brand")
      .agg(
        sum(price * oneMinusDisc).cast("double").as("net_revenue"),
        sum($"p_retailprice".cast("decimal(12,2)") * $"l_quantity".cast("decimal(12,2)"))
          .cast("double").as("retail_value"),
        count(lit(1)).as("line_cnt"))
      .orderBy($"s_name", $"p_brand")
  }

  /** Unshipped-order shipping priority — the TPC-H Q3 shape: segment
    * filter on the customer dim, date range splits on orders and
    * lineitem, 3-way join, revenue top-N. The scale plan: both date
    * filters push to the parquet scans (verified in PlanSpec), the
    * segment-filtered customer dim broadcasts into orders, the
    * orders⋈lineitem join hashes on orderkey, and the top-10 cut is
    * TakeOrderedAndProject (per-partition heaps), never a global sort.
    * Revenue sums decimal-exact (the partition-order-independent money
    * pattern used across the relational surface) and casts to double
    * at the edge.
    */
  def shippingPriority(spark: SparkSession, sfDir: String, n: Int = 10,
                       cutoff: String = "1998-06-01"): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir)
      .where($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val o = Tables.orders(spark, sfDir)
      .where($"o_orderdate" < lit(cutoff).cast("timestamp"))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
    val l = Tables.lineitem(spark, sfDir)
      .where($"l_shipdate" > lit(cutoff).cast("timestamp"))
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val price = $"l_extendedprice".cast("decimal(12,2)")
    val oneMinusDisc = lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(3,2)")
    o.join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(sum(price * oneMinusDisc).cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"o_orderkey".asc)
      .limit(n)
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority", $"revenue")
  }

  /** TPC-H Q21 shape (suppliers-who-kept-orders-waiting) on the trimmed
    * schema: for FINALIZED multi-supplier orders, blame the supplier
    * who was the ONLY late one ("late" = shipped > `lateDays` after the
    * order date — this schema has no commit/receipt dates), and rank
    * suppliers by blamed-order count.
    *
    * The textbook formulation is a correlated EXISTS (another supplier
    * on the order) + NOT EXISTS (another LATE supplier) — two extra
    * correlated scans of lineitem that Spark would decorrelate into two
    * more joins of the fact table against itself. This writes the
    * decorrelated form directly as a TWO-LEVEL aggregate: per
    * (order, supplier) late flags, then per order
    * (n_supp, n_late, the unique late supplier), one pass total. The
    * orders⋈lineitem join hash-partitions on orderkey and BOTH
    * aggregate levels cluster by a superset-compatible key, so the
    * entire per-order pipeline runs on the join's exchange — one
    * shuffle of each table, no Expand (explicit two-level beats
    * count-distinct rewrites), then O(suppliers) rows onward.
    */
  def supplierBlame(spark: SparkSession, sfDir: String,
                    lateDays: Int = 60, k: Int = 100): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
    val ord = Tables.orders(spark, sfDir)
      .where($"o_orderstatus" === "F")
      .select($"o_orderkey", $"o_orderdate")
    val perSupp = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .withColumn("late",
        expr(s"l_shipdate > o_orderdate + interval $lateDays days"))
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"late").as("supp_late"))
    val perOrder = perSupp.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(when($"supp_late", 1L).otherwise(0L)).as("n_late"),
        max(when($"supp_late", $"l_suppkey")).as("s_suppkey"))
      .where($"n_supp" > 1 && $"n_late" === 1)
    perOrder.groupBy($"s_suppkey").agg(count(lit(1)).as("numwait"))
      .join(broadcast(
        Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_name")),
        "s_suppkey")
      .orderBy($"numwait".desc, $"s_name", $"s_suppkey")
      .limit(k)
      .select($"s_suppkey", $"s_name", $"numwait")
  }

  def supplierBlameOracle(lateDays: Int = 60, k: Int = 100): String =
    s"""WITH per_supp AS (
       |  SELECT l.l_orderkey, l.l_suppkey,
       |         max(l.l_shipdate > o.o_orderdate + INTERVAL $lateDays DAY)
       |           AS supp_late
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  WHERE o.o_orderstatus = 'F'
       |  GROUP BY 1, 2
       |), per_order AS (
       |  SELECT l_orderkey, count(*) AS n_supp,
       |         CAST(sum(CASE WHEN supp_late THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_late,
       |         max(CASE WHEN supp_late THEN l_suppkey END) AS s_suppkey
       |  FROM per_supp GROUP BY 1
       |)
       |SELECT p.s_suppkey, s.s_name, count(*) AS numwait
       |FROM per_order p
       |JOIN supplier s ON p.s_suppkey = s.s_suppkey
       |WHERE p.n_supp > 1 AND p.n_late = 1
       |GROUP BY 1, 2
       |ORDER BY numwait DESC, s.s_name, p.s_suppkey
       |LIMIT $k""".stripMargin

  def shippingPriorityOracle(n: Int = 10, cutoff: String = "1998-06-01"): String =
    s"""SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
       |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
       |                 * (CAST(1 AS DECIMAL(3,2))
       |                    - CAST(l.l_discount AS DECIMAL(3,2))))
       |            AS DOUBLE) AS revenue
       |FROM orders o
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |WHERE c.c_mktsegment = 'BUILDING'
       |  AND o.o_orderdate < TIMESTAMP '$cutoff 00:00:00'
       |  AND l.l_shipdate > TIMESTAMP '$cutoff 00:00:00'
       |GROUP BY 1, 2, 3
       |ORDER BY revenue DESC, o.o_orderkey ASC
       |LIMIT $n""".stripMargin

  /** Daily value totals per event type — covers the events `value`
    * measure column with exact decimal summation.
    */
  def valueByTypeDaily(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(sum($"value".cast("decimal(12,2)")).cast("double").as("total_value"),
        count(lit(1)).as("cnt"))
      .orderBy($"day", $"event_type")
  }

  /** Exact percentiles of the value measure per event type. Spark's
    * `percentile` and DuckDB's `quantile_cont` share the type-7 linear
    * interpolation (`lower + frac·(higher−lower)` at rank p·(n−1)) —
    * verified bit-identical on this data, so the hash gate holds on
    * raw doubles. (`approx_percentile` is the sketch form for
    * shuffle-free scale; it is not oracle-able, like uv_approx.)
    */
  def valuePercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"))
      .orderBy($"event_type")
  }

  val valuePercentilesOracle: String =
    """SELECT event_type,
      |       quantile_cont(value, 0.5) AS p50,
      |       quantile_cont(value, 0.9) AS p90,
      |       quantile_cont(value, 0.99) AS p99
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** ROLLUP hierarchy totals (region → nation → grand total): Catalyst
    * expands the grouping sets into one Expand + single aggregate —
    * one shuffle for all three levels, not three passes. NULL group
    * rows are the subtotal markers, ordered NULLS FIRST on both
    * engines for the hash gate.
    */
  def revenueRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir).select($"o_custkey", $"o_totalprice")
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_nationkey")
    val n = Tables.nation(spark, sfDir)
      .select($"n_nationkey", $"n_regionkey", $"n_name".as("nation"))
    val r = Tables.region(spark, sfDir).select($"r_regionkey", $"r_name".as("region"))
    o.join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .rollup($"region", $"nation")
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("order_cnt"))
      .orderBy($"region".asc_nulls_first, $"nation".asc_nulls_first)
  }

  val revenueRollupOracle: String =
    """SELECT r.r_name AS region, n.n_name AS nation,
      |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       count(*) AS order_cnt
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY ROLLUP(region, nation)
      |ORDER BY region NULLS FIRST, nation NULLS FIRST""".stripMargin

  /** CUBE completion of [[revenueRollup]]: all four grouping sets of
    * (region, priority) in ONE Expand + aggregate pass — the
    * every-marginal report a rollup can't produce (rollup emits only
    * the prefix hierarchy). Same single-Expand plan shape as ROLLUP:
    * Catalyst fans each input row to its 4 grouping-set replicas
    * map-side and partial-aggregates before the one shuffle — never
    * four scans. Dim values are non-null by construction, so the
    * NULLS-FIRST order is unambiguous on both engines.
    */
  def revenueCube(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
      .select($"o_custkey", $"o_totalprice", $"o_orderpriority".as("priority"))
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_nationkey")
    val n = Tables.nation(spark, sfDir).select($"n_nationkey", $"n_regionkey")
    val r = Tables.region(spark, sfDir).select($"r_regionkey", $"r_name".as("region"))
    o.join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .cube($"region", $"priority")
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("order_cnt"))
      .orderBy($"region".asc_nulls_first, $"priority".asc_nulls_first)
  }

  val revenueCubeOracle: String =
    """SELECT r.r_name AS region, o.o_orderpriority AS priority,
      |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       count(*) AS order_cnt
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY CUBE(region, priority)
      |ORDER BY region NULLS FIRST, priority NULLS FIRST""".stripMargin

  /** Set-op completion for §2.10: INTERSECT (viewers who bought) and
    * EXCEPT (viewers who didn't) as real set operators — Catalyst
    * plans both as aggregated semi/anti joins, so they scale like any
    * keyed join (no distinct-then-collect).
    */
  def userSegments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val viewers = ev.filter($"event_type" === "view").select($"user_id").distinct()
    val buyers = ev.filter($"event_type" === "purchase").select($"user_id").distinct()
    viewers.intersect(buyers).withColumn("segment", lit("view_and_buy"))
      .union(viewers.except(buyers).withColumn("segment", lit("view_only")))
      .orderBy($"user_id", $"segment")
  }

  val userSegmentsOracle: String =
    """SELECT user_id, 'view_and_buy' AS segment FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
      |  INTERSECT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |UNION ALL
      |SELECT user_id, 'view_only' AS segment FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
      |  EXCEPT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |ORDER BY user_id, segment""".stripMargin

  /** CUBE over (event_type, day): all four grouping levels — detail,
    * per-type, per-day, grand total — in ONE Expand + one shuffle
    * (4× map-side row expansion collapsed immediately by the partial
    * aggregate), the same single-pass shape as ROLLUP but with the
    * full 2^k level lattice.
    */
  def eventsCube(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_type", to_date($"ts").as("day"),
        $"value".cast("decimal(12,2)").as("v"))
      .cube($"event_type", $"day")
      .agg(sum($"v").cast("double").as("total_value"),
        count(lit(1)).as("cnt"))
      .orderBy($"event_type".asc_nulls_first, $"day".asc_nulls_first)
  }

  val eventsCubeOracle: String =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |       count(*) AS cnt
      |FROM events
      |GROUP BY CUBE(event_type, day)
      |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin

  /** Window FRAME aggregation: per-user running value total in event
    * order — `rowsBetween(unboundedPreceding, currentRow)`, the frame
    * form of §2.11 the rank/lag queries don't exercise. Decimal
    * accumulation (then one cast out) so the prefix sums are exact and
    * engine-independent regardless of add order rounding.
    */
  def userRunningValue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts", $"value".cast("decimal(12,2)").as("v"))
      .withColumn("running_value", sum($"v").over(w).cast("double"))
      .select($"event_id", $"user_id", $"running_value")
      .orderBy($"event_id")
  }

  val userRunningValueOracle: String =
    """SELECT event_id, user_id,
      |       CAST(sum(CAST(value AS DECIMAL(12,2)))
      |              OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS DOUBLE) AS running_value
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Pivot (wide counts): days × fixed event-type columns. Spark's
    * `.pivot` with explicit values is a single aggregate (deterministic
    * column set — never an extra distinct-values job); absent cells are
    * 0 like the oracle's FILTER form.
    */
  def eventsPivot(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, sfDir)
      .groupBy(to_date($"ts").as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select($"day" +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy($"day")
  }

  val eventsPivotOracle: String =
    """SELECT CAST(ts AS DATE) AS day,
      |       count(*) FILTER (WHERE event_type = 'click') AS click,
      |       count(*) FILTER (WHERE event_type = 'error') AS error,
      |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |       count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Correlated scalar subquery, decorrelated (the TPC-H Q17 shape):
    * revenue from small-quantity orders, where "small" is relative to
    * each part's own average order quantity. The naive form runs the
    * avg subquery per outer row; the scalable form is the classic
    * decorrelation — aggregate once per part, join back. Both joins
    * broadcast: the brand filter cuts parts to dim size, and the
    * per-part aggregate inherits that bound, so the fact table never
    * shuffles (the 100 TB shape — lineitem is scanned twice but
    * exchanged zero times).
    *
    * Engine-exactness: quantities are integral, so
    * `qty < 0.2 · avg(qty)` is evaluated as the integer cross-multiply
    * `5·qty·cnt < Σqty` — no float threshold; the one double division
    * (the `/7` yearly average) runs last in a fixed op order over an
    * exact DECIMAL sum.
    */
  def smallQuantityRevenue(spark: SparkSession, sfDir: String,
                           brand: String = "Brand#12"): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, sfDir)
      .where($"p_brand" === brand).select($"p_partkey")
    val li = Tables.lineitem(spark, sfDir)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
    val perPart = li.groupBy($"l_partkey")
      .agg(sum($"l_quantity".cast("bigint")).as("sumq"),
        count(lit(1)).as("cnt"))
    li.join(broadcast(perPart), "l_partkey")
      .where($"l_quantity".cast("bigint") * $"cnt" * lit(5L) < $"sumq")
      .agg((sum($"l_extendedprice".cast("decimal(12,2)")).cast("double") / 7.0d)
        .as("avg_yearly"))
  }

  val smallQuantityRevenueOracle: String =
    """WITH li AS (
      |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  WHERE p.p_brand = 'Brand#12'
      |), a AS (
      |  SELECT l_partkey,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sumq,
      |         count(*) AS cnt
      |  FROM li GROUP BY 1
      |)
      |SELECT CAST(sum(CAST(li.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |         / 7e0 AS avg_yearly
      |FROM li JOIN a ON li.l_partkey = a.l_partkey
      |WHERE CAST(li.l_quantity AS BIGINT) * a.cnt * 5 < a.sumq""".stripMargin

  /** Union + distinct surface (absent from the reference — SURVEY.md
    * §2.10): view and click slices unioned, then per-type exact counts
    * and distinct users.
    */
  def eventsUnion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val views = ev.filter($"event_type" === "view")
    val clicks = ev.filter($"event_type" === "click")
    views.union(clicks)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"), countDistinct($"user_id").as("users"))
      .orderBy($"event_type")
  }

  // ------------------------------------------------ bloom runtime filter

  private val BloomBits = 1 << 17 // m: 131072 bits = 2048 longs
  private val BloomHashes = 3 // k
  private val HotOrderPrice = 490000.0 // ~2% of orders

  /** Explicit Bloom-filter semi-join pre-filter: aggregate the hot-order
    * keys into a 2048-long bit table (`bit_or` over per-key set bits),
    * broadcast it, and drop fact rows whose key misses ANY of the k
    * probe bits BEFORE the exact semi-join confirm. The final result is
    * the plain semi-join (a Bloom filter has no false negatives and the
    * confirm join removes its false positives), so the hash function is
    * a free choice — engine-native xxhash64 — and the oracle is one
    * `WHERE IN` subquery.
    *
    * This is the technique Spark's own InjectRuntimeFilter applies when
    * it can (and AQE cannot when the build side is another query
    * stage's output at 100 TB): the broadcast is CONSTANT-size (16 KiB
    * here) no matter how large the dim grows past the broadcast-join
    * threshold, while the shuffled fact shrinks by the filter's
    * selectivity — at a 2%-selective dim that is a 50× cut in shuffle
    * volume for the confirm join.
    */
  def bloomJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hot = Tables.orders(spark, sfDir)
      .filter($"o_totalprice" > HotOrderPrice).select($"o_orderkey")
    def pos(key: Column, i: Int): Column =
      pmod(xxhash64(key, lit(i)), lit(BloomBits.toLong))
    val bloom = hot
      .select(explode(array((0 until BloomHashes).map(i => pos($"o_orderkey", i)): _*))
        .as("pos"))
      .select(expr("pos div 64").as("widx"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("mask"))
      .groupBy($"widx").agg(expr("bit_or(mask)").as("bits"))
    var fact = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice", $"l_returnflag")
    for (i <- 0 until BloomHashes) {
      fact = fact.withColumn("pos", pos($"l_orderkey", i))
        .withColumn(s"widx$i", expr("pos div 64"))
        .withColumn(s"mask$i",
          expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))"))
        .drop("pos")
        // inner: a word with no set bits is absent from the bit table,
        // and absence alone disqualifies the row — k map-side joins
        .join(broadcast(bloom.select($"widx".as(s"widx$i"), $"bits".as(s"bits$i"))),
          Seq(s"widx$i"))
        .filter((col(s"bits$i").bitwiseAND(col(s"mask$i")) === col(s"mask$i")))
        .drop(s"widx$i", s"bits$i", s"mask$i")
    }
    fact.join(hot, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("line_cnt"),
        sum($"l_quantity".cast("decimal(12,2)")).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(12,2)")).cast("double").as("sum_price"))
      .orderBy($"l_returnflag")
  }

  /** Oracle = the exact semi-join: the Bloom stage is an optimization,
    * not a semantics change. */
  val bloomJoinOracle: String =
    s"""SELECT l_returnflag, count(*) AS line_cnt,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
       |FROM lineitem
       |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
       |                     WHERE o_totalprice > $HotOrderPrice)
       |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // ----------------------------------------- deterministic sampled stats

  /** Percentiles on a 5% deterministic hash sample — the scale path for
    * [[valuePercentiles]]: exact percentiles need a full sort per
    * group, a sample's sort is 20× smaller, and hashing (not modulo on
    * a sequential id, not `TABLESAMPLE`) makes the sample reproducible
    * across engines, runs, AND data layout changes. The same portable
    * poly_hash the dedup tier uses lets DuckDB replay the exact sample.
    */
  def valuePercentilesSampled(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .where(expr("poly_hash(cast(event_id as string)) % 20 = 0"))
      .groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"))
      .orderBy($"event_type")
  }

  /** Per-type quantiles from a BOUNDED-STATE hash sample — the
    * quantile member of the sketch family (KMV = distinct, Count-Min
    * = frequency): [[graft.functions.HashSampleAgg]] keeps the ≤ K
    * (hash, value) pairs with the smallest salted row hashes, a
    * uniform-without-replacement sample maintained in ≤ K·16 bytes of
    * aggregation state per group. `value_percentiles_sampled`'s 5 %
    * gate grows with the corpus and is a scan-side filter;
    * this K-bounded form is mergeable aggregation STATE — the version
    * a streaming `groupBy.agg` can carry ([[valueQuantilesStream]]),
    * and at 100 TB the exchange moves O(K·groups) rows where the
    * exact percentile sorts whole groups. Both engines interpolate
    * type-7 over the IDENTICAL deterministic sample, so the doubles
    * hash-gate.
    */
  def valueQuantilesSketch(spark: SparkSession, sfDir: String): DataFrame =
    valueQuantilesFinish(
      valueQuantilesState(Tables.events(spark, sfDir)))

  /** The bounded sample as an aggregation (shared batch/stream). */
  private[graft] def valueQuantilesState(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("event_type",
        "poly_hash(concat(cast(event_id as string), '-q')) as h", "value")
      .groupBy($"event_type")
      .agg(graft.functions.HashSampleAggregator
        .hashSample($"h", $"value").as("samp"))
  }

  /** Quantiles over the finished sample (shared batch/stream). */
  private[graft] def valueQuantilesFinish(state: DataFrame): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    state
      .select($"event_type", explode($"samp").as("s"))
      .select($"event_type", $"s._2".as("v"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_sample"),
        expr("percentile(v, 0.5)").as("p50"),
        expr("percentile(v, 0.9)").as("p90"))
      .orderBy($"event_type")
  }

  /** The quantile dashboard AS A STREAM: the bounded sample is the
    * streaming aggregation state (complete mode, ≤ K pairs per
    * group), quantiles re-finished per micro-batch on the O(groups)
    * snapshot and fully overwritten — replay-idempotent by
    * construction (the complete-mode form of the
    * [[BlockHygiene.eachBatch]] sink). */
  def valueQuantilesStream(events: DataFrame, resultDir: String) =
    BlockHygiene.eachBatch(
      valueQuantilesState(events).writeStream.outputMode("complete")) {
      (snap, _) =>
        valueQuantilesFinish(snap).write.mode("overwrite").parquet(resultDir)
    }

  val valueQuantilesSketchOracle: String = {
    import graft.textops.TextHash.phDuck
    s"""WITH hv AS (
       |  SELECT event_type,
       |         ${phDuck("CAST(event_id AS VARCHAR) || '-q'", "vq")} AS h,
       |         value FROM events
       |), hm AS (
       |  -- equal hashes keep the MIN value (the aggregator's
       |  -- order-independent collision rule)
       |  SELECT event_type, h, min(value) AS v FROM hv GROUP BY 1, 2
       |), rk AS (
       |  SELECT event_type, v,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY h ASC) AS rnk
       |  FROM hm
       |)
       |SELECT event_type, count(*) AS n_sample,
       |       quantile_cont(v, 0.5) AS p50,
       |       quantile_cont(v, 0.9) AS p90
       |FROM rk WHERE rnk <= 256 GROUP BY 1 ORDER BY event_type""".stripMargin
  }

  /** Trailing z-score anomaly detection: each (event_type, day) total
    * scored against the mean/stddev of its 7 preceding days (frame
    * excludes the current row — scoring a point against statistics
    * that include it dilutes the signal). Cross-engine float
    * determinism: the frame sums are exact DECIMAL (associative, no
    * order sensitivity), cast to DOUBLE only for the final
    * mean/variance/z expressions, which are written identically on
    * both engines — IEEE arithmetic on identical inputs in identical
    * order is bit-equal, so even the z column hash-gates.
    */
  def valueAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"ts".cast("date").as("day"), $"event_type")
      .agg(sum($"value".cast("decimal(12,2)")).as("total_dec"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-7, -1)
    daily
      .withColumn("n", count($"total_dec").over(w))
      .withColumn("fsum", sum($"total_dec").over(w))
      .withColumn("fsumsq", sum($"total_dec" * $"total_dec").over(w))
      .selectExpr("day", "event_type",
        "cast(total_dec as double) as total", "n",
        "cast(fsum as double) as fsum_d", "cast(fsumsq as double) as fsumsq_d")
      .selectExpr("day", "event_type", "total",
        "case when n >= 3 then fsum_d / n end as mean",
        "case when n >= 3 then (fsumsq_d / n) - (fsum_d / n) * (fsum_d / n) end as variance")
      .selectExpr("day", "event_type", "total",
        "case when variance > 0 then (total - mean) / sqrt(variance) end as z")
      .withColumn("is_anomaly", coalesce(abs($"z") > 2.0, lit(false)))
      .orderBy($"day", $"event_type")
  }

  val valueAnomalyOracle: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         sum(CAST(value AS DECIMAL(12,2))) AS total_dec
      |  FROM events GROUP BY 1, 2
      |), f AS (
      |  SELECT day, event_type,
      |         CAST(total_dec AS DOUBLE) AS total,
      |         count(total_dec) OVER w AS n,
      |         CAST(sum(total_dec) OVER w AS DOUBLE) AS fsum_d,
      |         CAST(sum(total_dec * total_dec) OVER w AS DOUBLE) AS fsumsq_d
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |), g AS (
      |  SELECT day, event_type, total,
      |         CASE WHEN n >= 3 THEN fsum_d / n END AS mean,
      |         CASE WHEN n >= 3 THEN (fsumsq_d / n) - (fsum_d / n) * (fsum_d / n) END AS variance
      |  FROM f
      |), h AS (
      |  SELECT day, event_type, total,
      |         CASE WHEN variance > 0 THEN (total - mean) / sqrt(variance) END AS z
      |  FROM g
      |)
      |SELECT day, event_type, total, z,
      |       COALESCE(abs(z) > 2.0, FALSE) AS is_anomaly
      |FROM h ORDER BY day, event_type""".stripMargin

  lazy val valuePercentilesSampledOracle: String =
    s"""SELECT event_type,
       |       quantile_cont(value, 0.5) AS p50,
       |       quantile_cont(value, 0.9) AS p90,
       |       quantile_cont(value, 0.99) AS p99
       |FROM events
       |WHERE ${graft.textops.TextHash.phDuck("CAST(event_id AS VARCHAR)", "sm")} % 20 = 0
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** CDC/upsert compaction — latest state per key, the merge step of
    * an incremental ingest (dedup-by-key keep-newest). row_number over
    * (key, time desc) = 1 is keyed work that pushes down as
    * WindowGroupLimit (partial per-partition top-1 before the
    * shuffle), so the exchange carries one row per (partition, key),
    * not the full history — the shape that survives a 100 TB changelog
    * with a bounded key space. Tie-break on event_id makes "latest"
    * total and engine-independent. Streaming analog:
    * [[graft.streaming.StreamingAnalytics.eventsCompactStream]].
    */
  def eventsCompact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"event_id".as("last_event_id"),
        $"event_type".as("last_event_type"), $"ts".as("last_ts"),
        $"value".as("last_value"))
      .orderBy($"user_id")
  }

  val eventsCompactOracle: String =
    """SELECT user_id, event_id AS last_event_id,
      |       event_type AS last_event_type, ts AS last_ts,
      |       value AS last_value
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |                 ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Equi-depth histogram over `value`: exact quartile boundaries
    * (same `percentile` agg the percentile queries bit-match against
    * `quantile_cont`), broadcast back as a 1-row cross join, then a
    * single bucket-assign + count pass. The boundary compute and the
    * bucketing are each one shuffle; bucket assignment itself is a
    * narrow case expression, so at 100 TB the cost is two scans —
    * there is no global sort anywhere (the classic NTILE form would
    * be one). Buckets are closed on the right; identical double
    * boundaries on both engines make the edge comparisons replay
    * exactly.
    */
  def valueHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select($"value")
    val bounds = ev.agg(
      expr("percentile(value, 0.25)").as("q1"),
      expr("percentile(value, 0.5)").as("q2"),
      expr("percentile(value, 0.75)").as("q3"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        expr("case when value <= q1 then 0 when value <= q2 then 1 " +
          "when value <= q3 then 2 else 3 end"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("cnt"), min($"value").as("lo"),
        max($"value").as("hi"))
      .orderBy($"bucket")
  }

  val valueHistogramOracle: String =
    """WITH b AS (
      |  SELECT quantile_cont(value, 0.25) AS q1,
      |         quantile_cont(value, 0.5) AS q2,
      |         quantile_cont(value, 0.75) AS q3
      |  FROM events
      |)
      |SELECT CASE WHEN value <= q1 THEN 0 WHEN value <= q2 THEN 1
      |            WHEN value <= q3 THEN 2 ELSE 3 END AS bucket,
      |       count(*) AS cnt, min(value) AS lo, max(value) AS hi
      |FROM events CROSS JOIN b
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  private val ProfileCols = Seq("l_quantity", "l_extendedprice", "l_discount")

  /** Data profiling — the per-column stats sweep (count / nulls /
    * distinct / min / max / exact sum) an ingest pipeline runs before
    * trusting a new drop. Two single-purpose passes over the
    * column-pruned scan, recombined by a free 1-row cross join (see
    * the inline comment for why the obvious one-pass form is 2.3×
    * slower); `stack` unpivots the 1-row result, never touching data
    * rows. Sums accumulate in decimal and cast out once — exact,
    * engine-independent.
    */
  def tableProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    // two single-purpose passes, NOT one mixed aggregation: combining
    // distinct and plain aggs makes Catalyst Expand every row once per
    // distinct column (4 streams here) and drag the plain-agg columns
    // through the widened shuffle — measured 2.3x slower than the two
    // clean passes (plain aggs stay a pure map-side partial; each
    // distinct stream dedupes map-side on its own (gid, value) key).
    // Both results are 1 row, so the recombining join is free.
    val plainAggs = ProfileCols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}_n"),
        (count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"),
        sum(col(c).cast("decimal(18,2)")).cast("double").as(s"${c}_sum"))
    }
    val distAggs = ProfileCols.map(c => countDistinct(col(c)).as(s"${c}_distinct"))
    li.agg(plainAggs.head, plainAggs.tail: _*)
      .crossJoin(li.agg(distAggs.head, distAggs.tail: _*))
      .selectExpr(s"stack(${ProfileCols.size}, " + ProfileCols.map(c =>
        s"'$c', ${c}_n, ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max, ${c}_sum")
        .mkString(", ") +
        ") as (column_name, n, n_nulls, n_distinct, min_v, max_v, sum_v)")
      .orderBy(col("column_name"))
  }

  val tableProfileOracle: String = {
    val stats = ProfileCols.map { c =>
      s"""count($c) AS ${c}_n,
         |       count(*) - count($c) AS ${c}_nulls,
         |       count(DISTINCT $c) AS ${c}_distinct,
         |       min($c) AS ${c}_min, max($c) AS ${c}_max,
         |       CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS ${c}_sum""".stripMargin
    }.mkString(",\n       ")
    val rows = ProfileCols.map { c =>
      s"""SELECT '$c' AS column_name, ${c}_n AS n, ${c}_nulls AS n_nulls,
         |       ${c}_distinct AS n_distinct, ${c}_min AS min_v,
         |       ${c}_max AS max_v, ${c}_sum AS sum_v FROM s""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH s AS (\n  SELECT $stats\n  FROM lineitem\n)\n$rows\nORDER BY column_name"
  }
}
