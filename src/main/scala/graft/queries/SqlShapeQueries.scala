package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.SparkEntry.t

/** Registry queries of TPC-H and SQL shapes: joins, set operations, grouping,
  * ranking and merges. Each query registers with its oracle right after its
  * body.
  */
private[graft] object SqlShapeQueries extends QueryFamily {

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
  query("q1_agg", q1Agg,
    """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)

  /** orders ⋈ customer ⋈ nation revenue rollup. `customer` is a
    * FACT-SIZED dimension (10⁹ rows at 100 TB TPC-H scale, ~16 GB for the
    * two joined columns alone) so it carries NO broadcast hint — the
    * planner broadcasts it below `autoBroadcastJoinThreshold` (it does at
    * every test SF) and falls back to a key-partitioned shuffle join at
    * scale. `nation` is a 25-row constant table: hint kept. */
  private def joinAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  private val joinAggDef = query("q_join_agg", joinAgg,
    """SELECT n_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin)

  private def topkOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  query("q_topk_orders", topkOrders,
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)

  /** KTable materialization (changelog compaction): each user's single
    * latest event by (ts, event_id) — the bounded aggregate at k = 1.
    */
  private def latestByKeyQ(s: SparkSession, dir: String): DataFrame =
    Analytics.latestByKey(t(s, dir, "events"), "user_id",
      unix_micros(col("ts")), col("event_id"),
      Seq("ts" -> col("ts"), "event_id" -> col("event_id"),
        "event_type" -> col("event_type"), "value" -> col("value")))
  // KTable compaction: the single latest record per key, ties to the
  // larger event_id (the log-offset rule)
  query("q_latest_by_key", latestByKeyQ,
    """SELECT user_id, ts, event_id, event_type, value FROM (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin)

  /** KTable history as an SCD-2 temporal table: each event version's
    * validity interval per user ([[Analytics.scd2]]); `valid_to` is null on
    * the current version — the compacted view [[latestByKeyQ]] is exactly
    * the `valid_to IS NULL` slice.
    */
  private def scd2Q(s: SparkSession, dir: String): DataFrame =
    Analytics.scd2(t(s, dir, "events"), "user_id", col("ts"), col("event_id"))
      .select("user_id", "event_id", "event_type", "valid_from", "valid_to")
  query("q_scd2", scd2Q,
    """SELECT user_id, event_id, event_type, ts AS valid_from,
      |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |FROM events""".stripMargin)

  /** TPC-H Q5 shape (local-supplier volume): the 6-table star join with
    * region/nation broadcast onto the fact-side shuffle join, revenue in
    * exact decimal partial aggregation. The canonical "did the optimizer
    * pick broadcast for the dims and shuffle only the facts" query.
    */
  private def sqlQ5(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      // probe-side fanOut A/B'd and REJECTED (r13): 1.377 s without vs
      // 1.370 s with — at this SF all five joins broadcast and the run
      // cost is the broadcast BUILDS (orders/customer HashedRelations per
      // run), not the single-split probe; at real scale these joins
      // shuffle on their keys and the question disappears
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount")).cast("decimal(4,2)"))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc)
  query("q_sql_q5", sqlQ5,
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY revenue DESC""".stripMargin)

  /** KTable⋈KTable full-outer join: each user's CURRENT purchase state
    * joined with their CURRENT view state — two changelog compactions
    * ([[Analytics.latestByKey]], partial-aggregating min-struct, never a
    * per-key sort of history) meeting in a key-equi join. Both compactions
    * hash-partition on `user_id`, so their output partitioning feeds the
    * join without a further exchange.
    */
  private def tableJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def latest(tpe: String, prefix: String) =
      Analytics.latestByKey(ev.filter(col("event_type") === tpe), "user_id",
        unix_micros(col("ts")), col("event_id"),
        Seq(s"${prefix}_id" -> col("event_id"), s"${prefix}_ts" -> col("ts"),
          s"${prefix}_value" -> col("value")))
    latest("purchase", "purchase").join(latest("view", "view"),
      Seq("user_id"), "full_outer")
  }
  // two rn=1 compactions FULL JOINed; ties broken by (ts, event_id) desc
  query("q_table_join", tableJoinQ,
    """WITH p AS (
      |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
      |    value AS purchase_value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT user_id, event_id AS view_id, ts AS view_ts,
      |    value AS view_value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'view'
      |)
      |SELECT user_id, purchase_id, purchase_ts, purchase_value,
      |  view_id, view_ts, view_value
      |FROM (SELECT * EXCLUDE rn FROM p WHERE rn = 1)
      |  FULL JOIN (SELECT * EXCLUDE rn FROM v WHERE rn = 1) USING (user_id)""".stripMargin)

  /** Top-3 orders per customer — the bounded-heap aggregate form: customers
    * are a high-cardinality key, so ≤ 3 rows per customer per mapper enter
    * the shuffle instead of every order (rows identical to the window form).
    */
  private def rankOrders(s: SparkSession, dir: String): DataFrame =
    Analytics.topPerKeyAgg(
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      "o_custkey",
      ordAsc = Seq(negate(col("o_totalprice")), col("o_orderkey")),
      payload = Seq("o_orderkey" -> col("o_orderkey"),
        "o_totalprice" -> col("o_totalprice")), k = 3)
  query("q_rank_orders", rankOrders,
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin)

  /** Rollup revenue by (region, nation). */
  private def rollupRevenue(s: SparkSession, dir: String): DataFrame =
    Analytics.rollupAgg(
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey")),
      levels = Seq(col("r_name"), col("n_name")),
      aggs = Seq(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders")))
  query("q_rollup_revenue", rollupRevenue,
    """SELECT COALESCE(CAST(r_name AS VARCHAR), 'ALL') AS r_name,
      |  COALESCE(CAST(n_name AS VARCHAR), 'ALL') AS n_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)

  /** Anti join: customers with no order above 300k. */
  private def antiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"))
  query("q_anti_join", antiJoin,
    """SELECT c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)

  /** Semi join: customers with at least one order above 300k. */
  private def semiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"))
  query("q_semi_join", semiJoin,
    """SELECT c_custkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)

  /** Salted skew join: orders⋈customer⋈nation revenue with the orders side
    * salt-sharded 8 ways and the dimension replicated per salt — the static
    * hot-key defense when AQE skew splitting isn't enough. Oracle = the
    * plain join SQL: salting must be result-invariant.
    */
  private def saltedJoinQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedJoin(
        t(s, dir, "orders"),
        t(s, dir, "customer").join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey").as("o_custkey"), col("n_name")),
        key = "o_custkey", salt = 8)
      .groupBy(col("n_name"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  query("q_salted_join", saltedJoinQ, joinAggDef.oracleSql)

  /** Bloom semi-join reduction ([[graft.operators.Skew.bloomReducedJoin]]):
    * orders ⋈ high-balance customers with the dim keys' Bloom pushed onto
    * the fact scan — only ~(matching + fpp) fact rows enter the shuffle.
    * Oracle = the PLAIN join SQL: the reduction must be result-invariant
    * (false positives are dropped by the exact join condition).
    */
  private def bloomJoinQ(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.operators.Skew.bloomReducedJoin(t(s, dir, "orders"), dim, "o_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }
  // the salted join must be result-invariant — same oracle as q_join_agg
  query("q_bloom_join", bloomJoinQ,
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey AND c_acctbal > 9000
      |GROUP BY 1""".stripMargin)

  /** TPC-H Q3-shaped revenue query executed through `spark.sql` over temp
    * views — the SAME SQL text serves as its own oracle (the engine's SQL
    * surface is ANSI-compatible for this query class). Revenue goes through
    * DECIMAL so both engines sum exactly.
    */
  private val sqlQ3Text =
    """SELECT l_orderkey,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |COUNT(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'O'
      |GROUP BY l_orderkey
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  private def sqlQ3(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(sqlQ3Text)
  }
  query("q_sql_q3", sqlQ3, sqlQ3Text)

  /** JSON column extraction: parse events.props (a JSON string) with an
    * explicit schema and aggregate the extracted field — from_json is the
    * engine's EdnSerde-replacement codec applied inside a query.
    */
  private def jsonExtractQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
  query("q_json_extract", jsonExtractQ,
    """SELECT event_type, CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |COUNT(CAST(props->>'k' AS BIGINT)) AS n_k
      |FROM events GROUP BY event_type""".stripMargin)

  /** Date arithmetic: monthly order revenue with month boundaries. */
  private def monthlyRevenueQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  query("q_monthly_revenue", monthlyRevenueQ,
    """SELECT date_trunc('month', o_orderdate) AS month,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |COUNT(*) AS n_orders
      |FROM orders GROUP BY 1""".stripMargin)

  /** NTILE quartiles of order price within each order status — equi-height
    * bucketing. `o_orderstatus` has 3 values, so a plain
    * `Window.partitionBy(status)` is 3 tasks at any scale; instead
    * [[graft.operators.Analytics.rangedRank]] range-partitions the sort and
    * derives the tile from the global row number in closed form (same bucket
    * allocation as SQL NTILE, verified against the DuckDB oracle).
    */
  private def ntileQ(s: SparkSession, dir: String): DataFrame = {
    val ranked = graft.operators.Analytics.rangedRank(
      t(s, dir, "orders").select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey")),
      Seq("o_orderstatus"), Seq(col("o_totalprice"), col("o_orderkey")))
    ranked
      .withColumn("tile", graft.operators.Analytics.ntileOf(col("rn"), col("n_part"), 4))
      .groupBy(col("o_orderstatus"), col("tile"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }
  query("q_ntile", ntileQ,
    """SELECT o_orderstatus, tile, COUNT(*) AS n_orders,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM (SELECT o_orderstatus, o_totalprice,
      |  CAST(NTILE(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS tile
      |  FROM orders)
      |GROUP BY 1, 2""".stripMargin)

  /** Relative-rank windows: percent_rank and cume_dist of each order within
    * its status partition. The (o_totalprice, o_orderkey) ordering is total,
    * so both are closed-form functions of the global row number — computed
    * by the range-partitioned [[graft.operators.Analytics.rangedRank]]
    * instead of a 3-task `Window.partitionBy(status)` sort; identical
    * doubles to the engine window functions (same (rn−1)/(n−1) and rn/n
    * arithmetic), oracle-verified.
    */
  private def percentRankQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Analytics
    Analytics.rangedRank(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      Seq("o_orderstatus"), Seq(col("o_totalprice"), col("o_orderkey")))
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(Analytics.percentRankOf(col("rn"), col("n_part")), 6).as("pr"),
        round(Analytics.cumeDistOf(col("rn"), col("n_part")), 6).as("cd"))
  }
  query("q_percent_rank", percentRankQ,
    """SELECT o_orderkey, o_orderstatus,
      |round(percent_rank() OVER w, 6) AS pr,
      |round(cume_dist() OVER w, 6) AS cd
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)""".stripMargin)

  /** Bag-semantics set ops: EXCEPT ALL keeps multiplicity (a customer with 3
    * small orders and 1 big one survives twice), unlike the set-semantics
    * q_except.
    */
  private def exceptAllQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_custkey").as("custkey"))
      .exceptAll(t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("custkey")))
      .groupBy(col("custkey")).agg(count(lit(1)).as("n"))
  query("q_except_all", exceptAllQ,
    """SELECT custkey, COUNT(*) AS n FROM (
      |  SELECT o_custkey AS custkey FROM orders
      |  EXCEPT ALL
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000
      |) GROUP BY custkey""".stripMargin)

  /** Fixed-width histogram via portable floor-div bucketing (no engine
    * histogram UDAF): order prices in 25k-wide buckets.
    */
  private def histogramQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(floor(col("o_totalprice") / 25000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
  query("q_histogram", histogramQ,
    """SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bucket, COUNT(*) AS n
      |FROM orders GROUP BY 1""".stripMargin)

  /** Pivot: one column per event type, summed values per user bucket. */
  private def pivotQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
      .groupBy(col("user_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
  query("q_pivot", pivotQ,
    """SELECT CAST(user_id % 10 AS INT) AS user_bucket,
      |CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
      |CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
      |CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
      |CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
      |CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS "view"
      |FROM events GROUP BY 1""".stripMargin)

  /** Cube: all grouping-set combinations of (returnflag, linestatus). */
  private def cubeQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"), col("n"))
  query("q_cube", cubeQ,
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      |COALESCE(l_linestatus, 'ALL') AS l_linestatus, COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)

  /** Explicit GROUPING SETS — the general grouping-set form that cube and
    * rollup specialize: per-returnflag totals and per-linestatus totals in
    * one pass (one Expand + one aggregation, not a self-union of two scans).
    */
  private def groupingSetsQ(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
            |COALESCE(l_linestatus, 'ALL') AS l_linestatus,
            |SUM(l_quantity) AS sum_qty, COUNT(*) AS n
            |FROM lineitem
            |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)
  }
  query("q_grouping_sets", groupingSetsQ,
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      |COALESCE(l_linestatus, 'ALL') AS l_linestatus,
      |SUM(l_quantity) AS sum_qty, COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)

  /** Orders above their customer's average — correlated-aggregate semantics
    * expressed as a window (one shuffle, no rescan). The comparison is the
    * cross-multiplied `price * n > sum` in DECIMAL so it is exact on both
    * engines (a float average's low bits depend on summation order).
    */
  private def aboveAvgQ(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
    t(s, dir, "orders")
      .withColumn("cust_sum", sum(col("o_totalprice").cast("decimal(18,2)")).over(w))
      .withColumn("cust_n", count(lit(1)).over(w))
      .filter(col("o_totalprice").cast("decimal(18,2)") * col("cust_n") > col("cust_sum"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }
  query("q_above_avg", aboveAvgQ,
    """SELECT o_orderkey, o_custkey, o_totalprice FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS cust_sum,
      |    COUNT(*) OVER (PARTITION BY o_custkey) AS cust_n
      |  FROM orders) WHERE CAST(o_totalprice AS DECIMAL(18,2)) * cust_n > cust_sum""".stripMargin)

  /** Range (interval) join: orders classified into price bands via a
    * non-equi BETWEEN join against a tiny broadcast bands table — the
    * broadcast-nested-loop shape appropriate when one side is literal-small
    * (a shuffle range join would be wrong here).
    */
  private def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("low", 0.0, 150000.0), ("mid", 150000.0, 300000.0),
      ("high", 300000.0, 450000.0), ("extreme", 450000.0, 1e9))
      .toDF("band", "lo", "hi")
    t(s, dir, "orders")
      .join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }
  query("q_range_join", rangeJoinQ,
    """SELECT band, COUNT(*) AS n_orders,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN (VALUES ('low', 0.0, 150000.0), ('mid', 150000.0, 300000.0),
      |  ('high', 300000.0, 450000.0), ('extreme', 450000.0, 1e9)) AS bands(band, lo, hi)
      |ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band""".stripMargin)

  /** Set ops: customers with orders EXCEPT customers with an order > 300k. */
  private def exceptQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_custkey").as("custkey"))
      .except(t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("custkey")))
  query("q_except", exceptQ,
    """SELECT o_custkey AS custkey FROM orders
      |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 300000""".stripMargin)

  private def intersectQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
  query("q_intersect", intersectQ,
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT SELECT s_nationkey FROM supplier""".stripMargin)

  /** Part catalog stats: brand-level pricing over the part dimension with a
    * LIKE filter — string-predicate pushdown plus DECIMAL-exact averaging
    * (avg = sum/count computed identically on both engines).
    */
  private def partBrandsQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_type").like("%AND%"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double")
          / count(lit(1)), 6).as("avg_price"),
        max(col("p_size")).as("max_size"))
  query("q_part_brands", partBrandsQ,
    """SELECT p_brand, COUNT(*) AS n_parts,
      |round(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
      |MAX(p_size) AS max_size
      |FROM part WHERE p_type LIKE '%AND%'
      |GROUP BY p_brand""".stripMargin)

  /** TPC-H Q6 shape (forecasting revenue change): a pure scan-side
    * aggregate whose THREE predicates all push into the parquet scan
    * (date band, discount band, quantity cap) — the canonical pushdown
    * benchmark. Revenue sums exact decimal products.
    */
  private def sqlQ6(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(4,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  query("q_sql_q6", sqlQ6,
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)

  /** TPC-H Q10 shape (returned-item reporting): customer×orders×lineitem
    * star with the nation dim broadcast, one quarter of returned items,
    * top 20 customers by exact-decimal revenue (distributed TakeOrdered).
    */
  private def sqlQ10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .filter(col("l_returnflag") === "R" &&
        col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount")).cast("decimal(4,2)"))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
  query("q_sql_q10", sqlQ10,
    """SELECT c_custkey, c_name, n_name,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |AND o_orderdate >= TIMESTAMP '1995-10-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)

  /** Wide→long unpivot (melt) of the four lineitem measures via `stack`,
    * aggregated per measure in exact decimal. stack() is a generator on
    * the scan side — no shuffle until the 4-group aggregate.
    */
  private def unpivotQ(s: SparkSession, dir: String): DataFrame =
    // fan out before the stack: the 4× row multiplication + decimal
    // partial sums are the whole cost (4 groups — the shuffle is bytes),
    // and the single-file scan otherwise runs it all one-core
    graft.operators.Par.fanOut(t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")))
      .select(expr(
        """stack(4,
          |  'l_quantity', l_quantity,
          |  'l_extendedprice', l_extendedprice,
          |  'l_discount', l_discount,
          |  'l_tax', l_tax) AS (measure, v)""".stripMargin))
      .groupBy(col("measure"))
      .agg(sum(col("v").cast("decimal(19,4)")).cast("double").as("total"),
        count(lit(1)).as("n"))
  query("q_unpivot", unpivotQ,
    """WITH u AS (
      |  SELECT 'l_quantity' AS measure, l_quantity AS v FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
      |SELECT measure, CAST(sum(CAST(v AS DECIMAL(19,4))) AS DOUBLE) AS total,
      |  count(*) AS n
      |FROM u GROUP BY 1""".stripMargin)

  /** Full-outer reconciliation summary between the orders header and the
    * per-order lineitem rollup: missing-side orphans plus a price
    * match/mismatch split (decimal-exact lineitem totals). The classic
    * "do the two pipelines agree" audit — one full-outer equi-join on the
    * shared key, output bounded by the status domain.
    */
  private def reconcileQ(s: SparkSession, dir: String): DataFrame = {
    val la = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("li_total"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    o.join(la, col("o_orderkey") === col("l_orderkey"), "full_outer")
      .select(when(col("o_orderkey").isNull, "orphan_lineitem")
        .when(col("l_orderkey").isNull, "no_lineitems")
        .when(abs(col("o_totalprice") - col("li_total")) <= 0.01, "price_match")
        .otherwise("price_mismatch").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
  }
  query("q_reconcile", reconcileQ,
    """WITH la AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS li_total
      |  FROM lineitem GROUP BY 1)
      |SELECT CASE WHEN o_orderkey IS NULL THEN 'orphan_lineitem'
      |            WHEN l_orderkey IS NULL THEN 'no_lineitems'
      |            WHEN abs(o_totalprice - li_total) <= 0.01 THEN 'price_match'
      |            ELSE 'price_mismatch' END AS status,
      |  count(*) AS n
      |FROM orders FULL OUTER JOIN la ON o_orderkey = l_orderkey
      |GROUP BY 1""".stripMargin)

  /** Upsert (MERGE-style latest-wins) of a derived change batch into the
    * orders base: updates carry sequence 1, base 0, and
    * [[Analytics.latestByKey]] keeps the winner per key — the general
    * mechanism; the oracle is the closed form of this particular batch.
    */
  private def upsertMergeQ(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        lit(0L).as("__seq"))
    val updates = base.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey"),
        // price bump in EXACT decimal: round(double*1.1, 2) hits half-way
        // ties where Spark rounds the shortest decimal repr and DuckDB the
        // exact binary (measured: 2 of 2143 updates flipped a cent)
        (col("o_totalprice").cast("decimal(18,2)") + lit(BigDecimal("10.00")))
          .cast("double").as("o_totalprice"),
        lit("U").as("o_orderstatus"), lit(1L).as("__seq"))
    Analytics.latestByKey(base.unionByName(updates), "o_orderkey",
        col("__seq"), col("o_orderkey"),
        Seq("o_totalprice" -> col("o_totalprice"),
          "o_orderstatus" -> col("o_orderstatus")))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
  }
  query("q_upsert_merge", upsertMergeQ,
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 7 = 0
      |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10.00 AS DOUBLE)
      |       ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus
      |FROM orders""".stripMargin)

  /** TPC-H Q18 shape (large-volume customers): orders whose total lineitem
    * quantity exceeds 250, joined back to customer — the group-filter-
    * join-back pattern with the quantity aggregate reused for output.
    */
  private def sqlQ18(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .filter(col("qty") > 250)
    // broadcast the QUALIFYING-KEY aggregate, not orders: unhinted,
    // Catalyst's static size estimate put the whole orders table under the
    // broadcast threshold (BuildLeft of 150k×4 rows per run) while the
    // having-filtered aggregate — a few hundred rows — streamed. The hint
    // is also the 100 TB shape stated explicitly: orders never fits a
    // broadcast there, the qty>250 survivors always do (AQE would find
    // this at runtime; the hint makes it the plan everywhere). Partial
    // aggregation before the exchange is confirmed in the plan
    // (HashAggregate partial_sum under the shuffle).
    t(s, dir, "orders")
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("qty"))
  }
  query("q_sql_q18", sqlQ18,
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |  FROM lineitem GROUP BY 1
      |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250)
      |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, qty
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin)

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated
    * aggregate subquery `l_quantity < 0.2·avg(quantity per part)`
    * DECORRELATED into a per-part aggregate joined back — what Catalyst's
    * subquery rewrite produces, written directly. The per-part side is
    * |parts| rows, a broadcast at dimension scale; the brand filter pushes
    * into the part scan.
    */
  private def sqlQ17(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgQ = li.groupBy(col("l_partkey")).agg(avg(col("l_quantity")).as("__aq"))
    val brand = t(s, dir, "part").filter(col("p_brand") === "Brand#11")
      .select(col("p_partkey"))
    li.join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      .join(avgQ, "l_partkey")
      .filter(col("l_quantity") < lit(0.2) * col("__aq"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / lit(7.0))
          .as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }
  query("q_sql_q17", sqlQ17,
    """WITH a AS (SELECT l_partkey, avg(l_quantity) AS aq FROM lineitem GROUP BY 1)
      |SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
      |  count(*) AS n_lines
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN a ON l.l_partkey = a.l_partkey
      |WHERE p.p_brand = 'Brand#11' AND l.l_quantity < 0.2 * a.aq""".stripMargin)

  /** TPC-H Q4 shape (order-priority checking): count per priority of 1996
    * orders with at least one line shipped strictly after the order date.
    * The EXISTS correlated subquery decorrelates to a LEFT SEMI join on
    * the order key — never duplicates orders, lineitem enters as a
    * two-column projection, and the census shuffles |priorities| rows.
    */
  private def sqlQ4(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }
  query("q_sql_q4", sqlQ4,
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
      |GROUP BY 1""".stripMargin)

  /** TPC-H Q14 shape (promotion effect): promo share of Q1-1996 revenue as
    * one conditional aggregation over the part-joined lineitem — exact
    * decimal revenue, a single double division at the end.
    */
  private def sqlQ14(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount")).cast("decimal(4,2)")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .join(t(s, dir, "part").select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev)).cast("double") /
          sum(rev).cast("double"), 6).as("promo_revenue_pct"),
        count(lit(1)).as("n_lines"))
  }
  query("q_sql_q14", sqlQ14,
    """SELECT round(100.0 *
      |  CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2)) END) AS DOUBLE) /
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2))) AS DOUBLE), 6)
      |  AS promo_revenue_pct,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin)

  /** TPC-H Q19 shape (discounted revenue, disjunctive bands): three
    * (brand, size band, quantity band) disjuncts evaluated INSIDE the join
    * condition so non-matching pairs never materialize.
    */
  private def sqlQ19(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount")).cast("decimal(4,2)")
    val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"))
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_size"))
    li.join(p, col("l_partkey") === col("p_partkey") && (
        (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#22" && col("p_size").between(1, 25) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#33" && col("p_size").between(1, 35) && col("l_quantity").between(20, 30))))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_lines"))
  }
  query("q_sql_q19", sqlQ19,
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)

  /** TPC-H Q15 shape (top supplier): per-supplier exact-decimal revenue for
    * Q1-1996, the max re-joined via a single-row broadcast (the view +
    * scalar subquery of the original, decorrelated by hand). Ties all
    * survive, exactly like the reference query; the decimal equality is
    * exact on both engines, so the tie set is deterministic.
    */
  private def sqlQ15(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount")).cast("decimal(4,2)")).as("__rev"))
    val top = rev.agg(max(col("__rev")).as("__max"))
    rev.crossJoin(broadcast(top))
      .filter(col("__rev") === col("__max"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("__rev").cast("double").as("total_revenue"))
  }
  query("q_sql_q15", sqlQ15,
    """WITH r AS (
      |  SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2))) AS rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
      |FROM r JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev = (SELECT max(rev) FROM r)""".stripMargin)

  /** TPC-H Q7 shape (volume shipping): bilateral trade between two nations
    * — supplier's nation on one side, customer's on the other, both
    * directions, revenue per (supp_nation, cust_nation, year). The two
    * nation legs are separate broadcast joins of a 25-row table filtered
    * to the pair; the pair-exclusion predicate sits after both joins so
    * only the two qualifying name combinations aggregate.
    */
  private def sqlQ7(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount")).cast("decimal(4,2)")
    val pair = Seq("NATION_18", "NATION_19")
    val n1 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("__sn"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("__cn"), col("n_name").as("cust_nation"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"), rev.as("__rev"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("__sn"))
      .join(broadcast(n2), col("c_nationkey") === col("__cn"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("__rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }
  query("q_sql_q7", sqlQ7,
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  EXTRACT(year FROM l_shipdate) AS l_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
      |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
      |GROUP BY 1, 2, 3""".stripMargin)

  /** TPC-H Q8 shape (national market share): NATION_3's share of 1996-1997
    * PROMO-part revenue sold into EUROPE, per year — the CASE-inside-SUM
    * share aggregation. Share numerator and denominator are the same exact
    * decimal sum; one double division (6-dp round) at the very end.
    */
  private def sqlQ8(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount")).cast("decimal(4,2)")
    val euroCust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("__cn"), col("n_regionkey"))),
        col("c_nationkey") === col("__cn"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")
          .select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("__sn"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("__sn"))
      .select(col("s_suppkey"), col("supp_nation"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), rev.as("__rev"))
      .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(euroCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(round(sum(when(col("supp_nation") === "NATION_3", col("__rev"))).cast("double") /
          sum(col("__rev")).cast("double"), 6).as("mkt_share"),
        count(lit(1)).as("n_lines"))
  }
  query("q_sql_q8", sqlQ8,
    """SELECT EXTRACT(year FROM o_orderdate) AS o_year,
      |  round(CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2)) END) AS DOUBLE) /
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2))) AS DOUBLE), 6)
      |    AS mkt_share,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |WHERE p_type = 'PROMO'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND EXISTS (SELECT 1 FROM customer c
      |              JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      |              JOIN region ON n2.n_regionkey = r_regionkey
      |              WHERE c.c_custkey = o_custkey AND r_name = 'EUROPE')
      |GROUP BY 1""".stripMargin)

  /** TPC-H Q9 shape (product-type profit): profit per (supplier nation,
    * year) over 'widget' parts. This dataset carries no partsupp table, so
    * the supply-cost term is the documented proxy `0.5 * p_retailprice *
    * l_quantity`; to keep the arithmetic EXACT across engines the halving
    * happens once, in double, after the decimal sum: sum(2*rev - cost)/2.
    */
  private def sqlQ9(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount")).cast("decimal(4,2)")
    val cost = col("p_retailprice").cast("decimal(18,2)") *
      col("l_quantity").cast("decimal(18,2)")
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
          .filter(col("p_name").like("%widget%"))
          .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders")
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg((sum(lit(2) * rev - cost).cast("double") / lit(2.0)).as("sum_profit"),
        count(lit(1)).as("n_lines"))
  }
  query("q_sql_q9", sqlQ9,
    """SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
      |  CAST(SUM(2 * CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(4,2))
      |         - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / 2.0
      |    AS sum_profit,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2""".stripMargin)

  /** TPC-H Q11 shape (important stock): parts whose traded value through
    * suppliers of three nations exceeds 1/1000 of the total — the
    * scalar-subquery threshold. The threshold compare is kept in EXACT
    * decimal by cross-multiplying (1000*val > total) instead of
    * materializing a fractional threshold; the one-row total broadcasts.
    */
  private def sqlQ11(s: SparkSession, dir: String): DataFrame = {
    val nations = Seq("NATION_1", "NATION_2", "NATION_3")
    val supp = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(t(s, dir, "nation").filter(col("n_name").isin(nations: _*))
          .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .select(col("s_suppkey"))
    val value = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          col("l_quantity").cast("decimal(18,2)")).as("__v"))
      .join(supp, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey")).agg(sum(col("__v")).as("__val"))
    val total = value.agg(sum(col("__val")).as("__total"))
    value.crossJoin(broadcast(total))
      .filter(col("__val") * lit(1000) > col("__total"))
      .select(col("l_partkey").as("part_key"),
        col("__val").cast("double").as("value"))
  }
  query("q_sql_q11", sqlQ11,
    """WITH v AS (
      |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS val
      |  FROM lineitem
      |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |                      WHERE n_name IN ('NATION_1','NATION_2','NATION_3'))
      |  GROUP BY 1)
      |SELECT l_partkey AS part_key, CAST(val AS DOUBLE) AS value
      |FROM v WHERE val * 1000 > (SELECT SUM(val) FROM v)""".stripMargin)

  /** TPC-H Q12 shape (shipping bands vs priority): this dataset has no
    * l_shipmode/commitdate/receiptdate, so the band is lateness itself —
    * shipped more than 60 days after the order date — and the measure is
    * the priority-conditional line counts of the original.
    */
  private def sqlQ12(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "LATE").otherwise("ONTIME").as("ship_band"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }
  query("q_sql_q12", sqlQ12,
    """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 'LATE' ELSE 'ONTIME' END AS ship_band,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1""".stripMargin)

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER join
    * with the filter INSIDE the join condition (customers with zero
    * qualifying orders must survive with count 0), then the
    * count-of-counts second aggregation.
    */
  private def sqlQ13(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").select(col("c_custkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority")),
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "4-NOT SPECIFIED", "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }
  query("q_sql_q13", sqlQ13,
    """WITH c_orders AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY 1)
      |SELECT c_count, count(*) AS custdist FROM c_orders GROUP BY 1""".stripMargin)

  /** TPC-H Q16 shape (supplier count by part attributes): distinct
    * suppliers per (brand, type, size) over a NOT-IN-excluded supplier
    * set. The NOT IN decorrelates to a LEFT ANTI join — never a filter on
    * a collected list — and the exclusion subquery side stays unhinted so
    * the planner sizes it (supplier is 10^5·SF rows at TPC-H scale).
    */
  private def sqlQ16(s: SparkSession, dir: String): DataFrame = {
    val excluded = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 2000.0).select(col("s_suppkey"))
    t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#11" && !col("p_type").like("MEDIUM%") &&
            col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }
  query("q_sql_q16", sqlQ16,
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#11' AND p_type NOT LIKE 'MEDIUM%'
      |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000.0)
      |GROUP BY 1, 2, 3""".stripMargin)

  /** TPC-H Q20 shape (part-promotion suppliers): suppliers that shipped
    * MORE than half of their all-time volume of 'small…' parts during 1996
    * — the original's availqty-vs-half-of-shipped threshold re-expressed
    * on shipment history (no partsupp table here). The nested subquery
    * chain decorrelates to one conditional aggregation per
    * (supplier, part) and a LEFT SEMI join into supplier; the half
    * threshold is the exact-decimal cross-multiply 2*q96 > qall.
    */
  private def sqlQ20(s: SparkSession, dir: String): DataFrame = {
    val in96 = col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1997-01-01").cast("timestamp")
    val qualifying = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_quantity").cast("decimal(18,2)").as("__q"))
      .join(broadcast(t(s, dir, "part").filter(col("p_name").like("small%"))
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(when(in96, col("__q"))).as("__q96"), sum(col("__q")).as("__qall"))
      .filter(col("__q96") * lit(2) > col("__qall"))
      .select(col("l_suppkey"))
    t(s, dir, "supplier")
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }
  query("q_sql_q20", sqlQ20,
    """WITH agg AS (
      |  SELECT l_suppkey, l_partkey,
      |    SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |        THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS q96,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qall
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |  GROUP BY 1, 2)
      |SELECT s_suppkey, s_name FROM supplier
      |WHERE s_suppkey IN (SELECT l_suppkey FROM agg WHERE q96 * 2 > qall)""".stripMargin)

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the sole late
    * shipper on a multi-supplier finished order. The EXISTS / NOT EXISTS
    * pair over lineitem decorrelates into ONE per-order aggregate —
    * distinct suppliers and distinct LATE suppliers — joined back to the
    * late lines; "late" is shipped >90 days after the order date (no
    * receipt/commit dates in this dataset). No self-join of lineitem
    * against itself: the order-scoped census replaces both subqueries.
    */
  private def sqlQ21(s: SparkSession, dir: String): DataFrame = {
    val lo = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("__late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
    val perOrder = lo.groupBy(col("l_orderkey").as("__ok"))
      .agg(countDistinct(col("l_suppkey")).as("__n_supp"),
        countDistinct(when(col("__late"), col("l_suppkey"))).as("__n_late"))
      .filter(col("__n_supp") >= 2 && col("__n_late") === 1)
      .select(col("__ok"))
    lo.filter(col("__late"))
      .join(perOrder, col("l_orderkey") === col("__ok"), "left_semi")
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }
  query("q_sql_q21", sqlQ21,
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY 1""".stripMargin)

  /** TPC-H Q22 shape (global sales opportunity): wealthy customers with no
    * RECENT orders (none since 1999 — every customer here has some order,
    * so the lapse cutoff keeps the anti join meaningful), bucketed by a
    * synthetic country code (c_custkey mod 7 — the dataset has no phone
    * column). The scalar-subquery average threshold
    * is applied by exact cross-multiplication (bal*n > sum) so no
    * engine-specific double averaging can flip a boundary customer, and
    * the NOT EXISTS decorrelates to a LEFT ANTI join against orders.
    */
  private def sqlQ22(s: SparkSession, dir: String): DataFrame = {
    val codes = Seq(1, 2, 4)
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), (col("c_custkey") % 7).as("cntrycode"),
        col("c_acctbal").cast("decimal(18,2)").as("__bal"))
      .filter(col("cntrycode").isin(codes: _*))
    val stats = cust.filter(col("__bal") > 0)
      .agg(sum(col("__bal")).as("__s"), count(lit(1)).as("__n"))
    cust
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(stats))
      .filter(col("__bal") * col("__n") > col("__s"))
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("__bal")).cast("double").as("totacctbal"))
  }
  query("q_sql_q22", sqlQ22,
    """WITH cust AS (
      |  SELECT c_custkey, c_custkey % 7 AS cntrycode, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      |  FROM customer WHERE c_custkey % 7 IN (1, 2, 4)),
      |stats AS (SELECT SUM(bal) AS s, count(*) AS n FROM cust WHERE bal > 0)
      |SELECT cntrycode, count(*) AS numcust, CAST(SUM(bal) AS DOUBLE) AS totacctbal
      |FROM cust, stats
      |WHERE bal * n > s
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY 1""".stripMargin)

  /** TPC-H Q2 flavor (min-cost supplier per part): the correlated
    * min-subquery decorrelated into ONE aggregation — min(struct(price,
    * suppkey)) picks the cheapest line per part with a deterministic
    * supplier tie-break, no window, no self-join; dims join after the
    * aggregation so they see |parts| rows, not |lineitem|.
    */
  private def minCostSupplierQ(s: SparkSession, dir: String): DataFrame = {
    val best = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("l_extendedprice"), col("l_suppkey"))).as("__b"))
      .select(col("l_partkey"),
        col("__b.l_extendedprice").as("min_price"),
        col("__b.l_suppkey").as("supp_key"))
    best
      .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
        col("supp_key") === col("s_suppkey"))
      .select(col("l_partkey").as("part_key"), col("p_brand"),
        col("s_name"), col("min_price"))
  }
  query("q_min_cost_supplier", minCostSupplierQ,
    """WITH m AS (SELECT l_partkey, min(l_extendedprice) AS min_price FROM lineitem GROUP BY 1),
      |b AS (SELECT l.l_partkey, m.min_price, min(l.l_suppkey) AS supp_key
      |      FROM lineitem l JOIN m ON l.l_partkey = m.l_partkey AND l.l_extendedprice = m.min_price
      |      GROUP BY 1, 2)
      |SELECT b.l_partkey AS part_key, p_brand, s_name, min_price
      |FROM b JOIN part ON b.l_partkey = p_partkey
      |JOIN supplier ON b.supp_key = s_suppkey""".stripMargin)
}
