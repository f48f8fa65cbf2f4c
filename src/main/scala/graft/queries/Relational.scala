package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The relational operator surface the MR model forces into user space
  * (SURVEY.md §2, "deliberately absent" list): joins of every flavor,
  * distinct, top-k, windows, set ops, rollup/cube, scalar functions.
  * Every query has a DuckDB oracle; every double aggregate goes through
  * [[Exact]] so the hash compare is bit-stable.
  *
  * Scale notes are inline per query — broadcast what is provably small,
  * shuffle on the natural key otherwise, always with a deterministic
  * tiebreaker when a window/top-k could tie.
  */
object Relational {

  /** Broadcast-dimension join: revenue per nation. supplier/nation are tiny
    * at any SF (supplier is 0.01% of lineitem) → two broadcast hash joins,
    * zero shuffle on the fact side until the final 25-group aggregate.
    */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)
    val nat = Tables.nation(s, dir)
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
           count(lit(1)).as("n_items"))
  }

  val joinBroadcastSql: String =
    s"""SELECT n_name, ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
       |COUNT(*) AS n_items
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY n_name""".stripMargin

  /** Fact-to-fact join: lineitem ⋈ orders on orderkey. At 100 TB both sides
    * are large → sort-merge join on the shuffled key; AQE handles skew.
    * Aggregation keys are tiny (5 priorities) so the final agg is cheap.
    */
  def joinLarge(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(Exact.dsum(col("l_extendedprice"), 2).as("sum_price"),
           count(lit(1)).as("n_items"))
  }

  val joinLargeSql: String =
    s"""SELECT o_orderpriority, ${Exact.sqlSum("l_extendedprice", 2)} AS sum_price,
       |COUNT(*) AS n_items
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority""".stripMargin

  /** Left-semi join (EXISTS): customers that placed at least one order.
    * Reference users build this as tag + group-by-key; Spark plans a
    * broadcast/shuffled semi join that never materializes the order rows.
    */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
  }

  val semiJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no big-ticket order
    * (> 300k). The filter on the right side pushes into the orders scan
    * before the anti join — at 100 TB that prunes most of the build side.
    */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  val antiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin

  /** Distinct (user-space dedup in the MR model). */
  def distinctPairs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()

  val distinctPairsSql: String =
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"

  /** Top-k per group via window: top 3 orders by totalprice per priority.
    * Deterministic tiebreaker on o_orderkey — a top-k without one is
    * nondeterministic under any parallel execution, at any scale.
    * Window partitions by a low-cardinality key; at 100 TB a two-phase
    * per-partition top-k (AQE + limit pushdown) keeps this from sorting
    * the world — only k rows per group survive each partial.
    */
  def topKPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
  }

  val topKPerGroupSql: String =
    """SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3""".stripMargin

  /** Top-k per group through the custom heap-based physical operator
    * (graft.plans.TopKPerGroup: O(n log k) bounded heaps instead of the
    * window's full per-group sort) — same semantics and oracle as the
    * window form, minus the materialized rank column.
    */
  def topKCustomOp(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perGroup(
      Tables.orders(s, dir).select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
      groupCols = Seq("o_orderpriority"),
      orderCols = Seq("o_totalprice" -> false, "o_orderkey" -> true),
      k = 3)

  val topKCustomOpSql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3""".stripMargin

  /** Global top-k: 10 highest-value orders. orderBy+limit lets Spark run
    * TakeOrderedAndProject — per-partition heaps, no global sort.
    */
  def topKGlobal(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  val topKGlobalSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** ROLLUP: order counts by (status, priority) hierarchy. */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("o_totalprice"), 2).as("total"))

  val rollupAggSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |${Exact.sqlSum("o_totalprice", 2)} AS total
       |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  /** CUBE over two independent dims. */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))

  val cubeAggSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Set operations: nations that have customers but no suppliers
    * (EXCEPT) unioned with nations present in both (INTERSECT), tagged.
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val cNations = Tables.customer(s, dir).select(col("c_nationkey").as("nk"))
    val sNations = Tables.supplier(s, dir).select(col("s_nationkey").as("nk"))
    val both = cNations.intersect(sNations).withColumn("tag", lit("both"))
    val onlyC = cNations.except(sNations).withColumn("tag", lit("customer_only"))
    both.unionByName(onlyC)
  }

  val setOpsSql: String =
    """SELECT nk, 'both' AS tag FROM
      |  (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey AS nk FROM supplier)
      |UNION ALL
      |SELECT nk, 'customer_only' AS tag FROM
      |  (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey AS nk FROM supplier)""".stripMargin

  /** TPC-H Q1-style pricing summary: the canonical heavy scan+agg. All
    * money math accumulates in decimal (order-free), averages divide once
    * at the end. Partial aggregation makes this one scan + one 4-group
    * exchange regardless of input size.
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.dsum(col("l_quantity"), 2).as("sum_qty"),
        Exact.dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
        Exact.davg(col("l_quantity"), 2).as("avg_qty"),
        Exact.davg(col("l_extendedprice"), 2).as("avg_price"),
        Exact.davg(col("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val pricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |${Exact.sqlSum("l_quantity", 2)} AS sum_qty,
       |${Exact.sqlSum("l_extendedprice", 2)} AS sum_base_price,
       |${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
       |${Exact.sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
       |${Exact.sqlAvg("l_quantity", 2)} AS avg_qty,
       |${Exact.sqlAvg("l_extendedprice", 2)} AS avg_price,
       |${Exact.sqlAvg("l_discount", 2)} AS avg_disc,
       |COUNT(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style shipping priority: 3-table join, revenue per order,
    * top 10. customer is the small side (broadcast); lineitem⋈orders
    * shuffles on orderkey.
    */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
      // timestamp rendered as string: Spark writes timestamp[us], DuckDB
      // carries [ms] — equal instants, different physical units; a strict
      // arrow-level comparator would flag the unit, not the value
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
        col("revenue"))
  }

  val shippingPrioritySql: String =
    s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       |${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  /** Running window aggregate: cumulative quantity per supplier ordered by
    * ship date. Total order (shipdate, orderkey, linenumber) makes every
    * prefix — and therefore every running decimal sum — deterministic.
    */
  def runningSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, dir)
      .filter(col("l_suppkey") <= 10)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast("decimal(38,2)")).over(w).cast("double").as("running_qty"))
  }

  val runningSumSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) OVER (
      |  PARTITION BY l_suppkey
      |  ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem WHERE l_suppkey <= 10""".stripMargin

  /** Scalar function surface: string/date/math over part+orders. In the MR
    * model these live inside user mappers (Go stdlib); here they're
    * codegen'd Catalyst expressions.
    */
  def scalarFunctions(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey") <= 1000)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mon"),
        dayofmonth(col("o_orderdate")).as("dom"),
        upper(col("o_orderpriority")).as("pri_upper"),
        substring(col("o_orderstatus"), 1, 1).as("status_c"),
        length(col("o_orderpriority")).as("pri_len"),
        floor(col("o_totalprice")).as("price_floor"),
        ceil(col("o_totalprice")).as("price_ceil"),
        (col("o_totalprice") - floor(col("o_totalprice"))).as("price_frac"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_pri"))

  val scalarFunctionsSql: String =
    """SELECT o_orderkey,
      |CAST(year(o_orderdate) AS INT) AS yr,
      |CAST(month(o_orderdate) AS INT) AS mon,
      |CAST(day(o_orderdate) AS INT) AS dom,
      |upper(o_orderpriority) AS pri_upper,
      |substring(o_orderstatus, 1, 1) AS status_c,
      |CAST(length(o_orderpriority) AS INT) AS pri_len,
      |CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
      |CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
      |o_totalprice - floor(o_totalprice) AS price_frac,
      |concat_ws('-', o_orderstatus, o_orderpriority) AS status_pri
      |FROM orders WHERE o_orderkey <= 1000""".stripMargin

  /** Sessionization: split each user's event stream on >30 min gaps, count
    * sessions and events. Classic lag + cumulative-sum-of-boundaries; all
    * integer arithmetic → hash-exact. Partitioned by user_id — embarrassingly
    * parallel at any scale (each user's timeline lives in one partition).
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val ev = Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"),
           count(lit(1)).cast("long").as("n_session_rows"),
           Exact.dsum(col("n_events"), 0).as("n_events_total"))
  }

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |), sessions AS (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |), per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events
      |  FROM sessions GROUP BY user_id, session_id
      |)
      |SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_session_rows,
      |  CAST(SUM(CAST(n_events AS DECIMAL(38,0))) AS DOUBLE) AS n_events_total
      |FROM per_session GROUP BY user_id""".stripMargin

  /** Histogram bucketing: value distribution in width-50 buckets. */
  def histogram(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select((floor(col("value") / 50.0) * 50).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  val histogramSql: String =
    """SELECT CAST(FLOOR(value / 50.0) * 50 AS BIGINT) AS bucket, COUNT(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  /** As-of (temporal) join: for each event, the same user's most recent
    * order at-or-before the event time. Spark has no asof operator; the
    * scalable composition is the tagged merge + running last-non-null
    * window — one shuffle on the key, no range cross product (an
    * inequality join would be O(|events|·|orders|) per key). Total sort
    * order (t, side, okey, event_id) makes the pick deterministic,
    * including order-date ties (max orderkey wins).
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id").as("k"), col("ts").as("t"),
      lit(1).as("is_event"), col("event_id"),
      lit(null).cast("long").as("okey"))
    val ord = Tables.orders(s, dir).select(
      col("o_custkey").as("k"), col("o_orderdate").as("t"),
      lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
      col("o_orderkey").as("okey"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("is_event").asc,
        coalesce(col("okey"), lit(-1L)).asc, coalesce(col("event_id"), lit(-1L)).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(ord)
      .withColumn("matched", last(col("okey"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("k").as("user_id"), col("matched").as("last_orderkey"))
  }

  val asofJoinSql: String =
    """WITH u AS (
      |  SELECT user_id AS k, ts AS t, 1 AS is_event, event_id,
      |    CAST(NULL AS BIGINT) AS okey FROM events
      |  UNION ALL
      |  SELECT o_custkey, o_orderdate, 0, CAST(NULL AS BIGINT), o_orderkey FROM orders)
      |SELECT event_id, k AS user_id, matched AS last_orderkey FROM (
      |  SELECT *, last_value(okey IGNORE NULLS) OVER (
      |    PARTITION BY k
      |    ORDER BY t ASC, is_event ASC, coalesce(okey, -1) ASC, coalesce(event_id, -1) ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched
      |  FROM u)
      |WHERE is_event = 1""".stripMargin

  /** Pivot: per-user event-type counts as columns (fixed column set so the
    * output schema is plan-time static — the only pivot shape that scales,
    * since a dynamic pivot needs a driver-side distinct first).
    */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def pivotCounts(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", eventTypes)
      .count()
    p.select(col("user_id") +: eventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  val pivotCountsSql: String =
    s"""SELECT user_id, ${eventTypes
         .map(t => s"COUNT(*) FILTER (WHERE event_type = '$t') AS $t")
         .mkString(", ")}
       |FROM events GROUP BY user_id""".stripMargin

  /** Full outer join with null-surviving aggregation: per-nation customer
    * and supplier account balances — rows survive from BOTH unmatched
    * sides (nations with customers but no suppliers and vice versa).
    */
  def outerJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .groupBy(col("c_nationkey").as("nk"))
      .agg(Exact.dsum(col("c_acctbal"), 2).as("cust_bal"), count(lit(1)).as("n_cust"))
    val sp = Tables.supplier(s, dir)
      .groupBy(col("s_nationkey").as("nk"))
      .agg(Exact.dsum(col("s_acctbal"), 2).as("supp_bal"), count(lit(1)).as("n_supp"))
    c.withColumnRenamed("nk", "c_nk")
      .join(sp.withColumnRenamed("nk", "s_nk"), col("c_nk") === col("s_nk"), "full_outer")
      .select(coalesce(col("c_nk"), col("s_nk")).as("nationkey"),
        coalesce(col("cust_bal"), lit(0.0)).as("cust_bal"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("supp_bal"), lit(0.0)).as("supp_bal"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  val outerJoinSql: String =
    s"""WITH c AS (
       |  SELECT c_nationkey AS nk, ${Exact.sqlSum("c_acctbal", 2)} AS cust_bal,
       |    COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
       |sp AS (
       |  SELECT s_nationkey AS nk, ${Exact.sqlSum("s_acctbal", 2)} AS supp_bal,
       |    COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
       |SELECT coalesce(c.nk, sp.nk) AS nationkey,
       |  coalesce(cust_bal, 0.0) AS cust_bal, coalesce(n_cust, 0) AS n_cust,
       |  coalesce(supp_bal, 0.0) AS supp_bal, coalesce(n_supp, 0) AS n_supp
       |FROM c FULL OUTER JOIN sp ON c.nk = sp.nk""".stripMargin

  /** Bag-semantics set operations: INTERSECT ALL / EXCEPT ALL preserve
    * multiplicity (the DISTINCT variants in q19 collapse it).
    */
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_nationkey").as("nk"))
    val sp = Tables.supplier(s, dir).select(col("s_nationkey").as("nk"))
    c.intersectAll(sp).groupBy(col("nk")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
      .unionByName(
        c.exceptAll(sp).groupBy(col("nk")).agg(count(lit(1)).as("n"))
          .withColumn("op", lit("except_all")))
  }

  val setOpsAllSql: String =
    """SELECT nk, COUNT(*) AS n, 'intersect_all' AS op FROM (
      |  SELECT c_nationkey AS nk FROM customer
      |  INTERSECT ALL SELECT s_nationkey FROM supplier) GROUP BY nk
      |UNION ALL
      |SELECT nk, COUNT(*) AS n, 'except_all' AS op FROM (
      |  SELECT c_nationkey AS nk FROM customer
      |  EXCEPT ALL SELECT s_nationkey FROM supplier) GROUP BY nk""".stripMargin

  /** Null-key grouping: SQL group-by treats NULL as one group (unlike the
    * reference's byte-compare grouping where a missing key can't exist);
    * both engines must agree on the null row.
    */
  def nullGroup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(nullif(col("event_type"), lit("error")).as("etype"))
      .agg(count(lit(1)).as("n"))

  val nullGroupSql: String =
    """SELECT nullif(event_type, 'error') AS etype, COUNT(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  /** Correlated-subquery semantics: customers whose balance exceeds their
    * nation's average. Spark plans it as an aggregate + rebroadcast join
    * (the decorrelated form Catalyst would produce for the subquery);
    * the oracle keeps the correlated form — both must agree. The average
    * is exact decimal divided once → bit-stable threshold.
    */
  def aboveNationAvg(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val nationAvg = c.groupBy(col("c_nationkey").as("nk"))
      .agg((sum(col("c_acctbal").cast("decimal(38,2)")).cast("double") /
        count(lit(1)).cast("double")).as("avg_bal"))
    c.join(broadcast(nationAvg), col("c_nationkey") === col("nk"))
      .filter(col("c_acctbal") > col("avg_bal"))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
  }

  val aboveNationAvgSql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c1
      |WHERE c_acctbal > (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE)
      |  FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey)""".stripMargin

  /** Native session windows: Spark's `session_window` (30-minute gap)
    * against the SAME oracle as the manual lag+cumsum sessionizer (q24) —
    * the built-in operator and the hand-rolled plan must agree on session
    * counts.
    */
  def sessionWindowNative(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        Exact.dsum(col("n_events"), 0).as("n_events_total"))

  val sessionWindowNativeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR (ts - lag(ts) OVER w) >= INTERVAL '30' MINUTE
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |), sessions AS (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |), per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events
      |  FROM sessions GROUP BY user_id, session_id
      |)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(CAST(n_events AS DECIMAL(38,0))) AS DOUBLE) AS n_events_total
      |FROM per_session GROUP BY user_id""".stripMargin

  /** Explicit GROUPING SETS with per-column GROUPING() flags, exercised
    * through the engine's SQL surface (`Tables.registerAll` + spark.sql) —
    * per-column GROUPING() rather than engine-ordered GROUPING_ID bitmaps,
    * which engines number differently.
    */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_gs")
    s.sql(
      """SELECT event_type, user_id,
        |  CAST(grouping(event_type) AS INT) AS g_type,
        |  CAST(grouping(user_id) AS INT) AS g_user,
        |  COUNT(*) AS n
        |FROM events_gs
        |GROUP BY GROUPING SETS ((event_type), (user_id), ())""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT event_type, user_id,
      |  CAST(grouping(event_type) AS INT) AS g_type,
      |  CAST(grouping(user_id) AS INT) AS g_user,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (user_id), ())""".stripMargin

  /** Array function surface over integer arrays (constructed per row from
    * scalars): size/element_at/aggregate-sum/reverse/slice/contains —
    * the array algebra a payload-heavy pipeline leans on, all exact ints.
    */
  def arrayFunctions(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey") <= 500)
      .withColumn("arr", sequence(lit(1L), pmod(col("o_orderkey"), lit(5L)) + 1L))
      .select(
        col("o_orderkey"),
        size(col("arr")).as("n"),
        element_at(col("arr"), 1).as("head"),
        element_at(col("arr"), -1).as("last"),
        aggregate(col("arr"), lit(0L), (a, x) => a + x).as("arr_sum"),
        concat_ws(",", reverse(col("arr"))).as("rev_str"),
        concat_ws(",", slice(col("arr"), 1, 2)).as("first2"),
        array_contains(col("arr"), 3L).cast("int").as("has3"))

  val arrayFunctionsSql: String =
    """SELECT o_orderkey,
      |CAST(len(arr) AS INT) AS n,
      |arr[1] AS head,
      |arr[-1] AS last,
      |CAST(list_sum(arr) AS BIGINT) AS arr_sum,
      |array_to_string(list_reverse(arr), ',') AS rev_str,
      |array_to_string(arr[1:2], ',') AS first2,
      |CAST(list_contains(arr, 3) AS INT) AS has3
      |FROM (SELECT o_orderkey, range(1, (o_orderkey % 5) + 2) AS arr
      |      FROM orders WHERE o_orderkey <= 500)""".stripMargin

  /** Distinct counting: exact countDistinct (oracle-gated; the approximate
    * HLL path `approx_count_distinct` is engine-specific by construction
    * and is asserted to <2% relative error in RelationalSpec instead).
    */
  def distinctCounts(s: SparkSession, dir: String): DataFrame =
    // The multi-distinct Expand (one row per fact row per distinct column)
    // is the RIGHT shape here, unlike t08's global profile: per-column
    // aggregate branches would each re-iterate every fact row anyway
    // (same total rows as the Expand produces) and then pay a join —
    // measured 0.84 s (Expand) vs 0.91 s (branches) at sf0.1. The
    // branch form only wins when the branches' scans are column-disjoint
    // AND the aggregate is global (see TextAnalysis.profile).
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  val distinctCountsSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Deterministic hash sampling: ~10% of orders via md5-derived bucket —
    * the reproducible sampling a data pipeline needs (rand()-based samples
    * differ per run/engine; hash samples are stable, joinable, and
    * auditable). Uses the same engine-portable hash as the dedup family.
    */
  def hashSample(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(pmod(graft.llm.Hashing.hash60(col("o_orderkey").cast("string")), lit(100L)) < 10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  val hashSampleSql: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       |WHERE (${graft.llm.Hashing.sqlHash60("CAST(o_orderkey AS VARCHAR)")}) % 100 < 10""".stripMargin

  /** Left outer join preserving unmatched rows: order counts per customer
    * including zero-order customers (the join+coalesce shape; semi/anti
    * cover existence, this covers enumeration-with-default).
    */
  def leftJoinCounts(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_big_orders"))
  }

  val leftJoinCountsSql: String =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders
      |FROM customer LEFT JOIN orders
      |  ON o_custkey = c_custkey AND o_totalprice > 400000.0
      |GROUP BY c_custkey""".stripMargin

  /** Window-function breadth: lead, first/last value over frames, ntile —
    * all under a deterministic total order.
    */
  def windowMisc(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
    Tables.lineitem(s, dir)
      .filter(col("l_suppkey") <= 5)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        lead(col("l_orderkey"), 1).over(w).as("next_order"),
        first(col("l_orderkey")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_order"),
        ntile(4).over(w).as("quartile"))
  }

  val windowMiscSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |lead(l_orderkey, 1) OVER w AS next_order,
      |first_value(l_orderkey) OVER (PARTITION BY l_suppkey
      |  ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order,
      |CAST(ntile(4) OVER w AS INT) AS quartile
      |FROM lineitem WHERE l_suppkey <= 5
      |WINDOW w AS (PARTITION BY l_suppkey
      |  ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC)""".stripMargin

  /** Range (interval) join: orders bucketed by a generated price-band
    * dimension via `lo <= x < hi` predicates — the interval-join pattern
    * (dimension is tiny → broadcast nested loop is the right plan; a large
    * interval table would first be bucketized to convert this to an
    * equi-join, per SCALING.md).
    */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(0, 5).select(
      col("id").as("band"),
      (col("id") * 100000.0).as("lo"),
      ((col("id") + 1) * 100000.0).as("hi"))
    Tables.orders(s, dir)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.dsum(col("o_totalprice"), 2).as("band_total"))
  }

  val rangeJoinSql: String =
    s"""SELECT band, COUNT(*) AS n_orders,
       |${Exact.sqlSum("o_totalprice", 2)} AS band_total
       |FROM orders JOIN (
       |  SELECT i AS band, i * 100000.0 AS lo, (i + 1) * 100000.0 AS hi
       |  FROM range(0, 5) t(i)) bands
       |ON o_totalprice >= lo AND o_totalprice < hi
       |GROUP BY band""".stripMargin

  /** Null-preserving explode (`explode_outer`): rows whose array is empty
    * survive with a NULL element — the LATERAL-join semantics batch
    * pipelines need so empty payloads aren't silently dropped. DuckDB has
    * no outer unnest; the oracle pads empty lists with [NULL], which is
    * exactly explode_outer's contract.
    */
  def explodeOuter(s: SparkSession, dir: String): DataFrame = {
    // arr empty whenever o_orderkey % 4 == 0 → ~25% null-element rows
    // (explicit empty branch: Spark's sequence(1,0) is a DESCENDING [1,0])
    val m = pmod(col("o_orderkey"), lit(4L))
    val arr = when(m === 0L, array().cast("array<bigint>"))
      .otherwise(sequence(lit(1L), m))
    Tables.orders(s, dir)
      .filter(col("o_orderkey") <= 400)
      .withColumn("el", explode_outer(arr))
      .groupBy(col("el"))
      .agg(count(lit(1)).as("n"))
  }

  val explodeOuterSql: String =
    """SELECT el, COUNT(*) AS n FROM (
      |  SELECT unnest(CASE WHEN len(arr) = 0 THEN [NULL] ELSE arr END) AS el
      |  FROM (SELECT CASE WHEN o_orderkey % 4 = 0 THEN []
      |               ELSE range(1, (o_orderkey % 4) + 1) END AS arr
      |        FROM orders WHERE o_orderkey <= 400))
      |GROUP BY el""".stripMargin

  /** Aggregate filtering (HAVING): customers with 12+ orders and their
    * exact spend.
    */
  def havingFilter(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.dsum(col("o_totalprice"), 2).as("total_spend"))
      .filter(col("n_orders") >= 12)

  val havingFilterSql: String =
    s"""SELECT o_custkey, COUNT(*) AS n_orders,
       |${Exact.sqlSum("o_totalprice", 2)} AS total_spend
       |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12""".stripMargin

  /** Stratified deterministic sampling: per-stratum rates (20% of 'R'
    * rows, 5% of the rest) through the same md5-bucket mechanism as
    * [[hashSample]] — reproducible, joinable, and exactly mirrorable,
    * unlike `sampleBy`'s engine-private RNG streams.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(graft.llm.Hashing.hash60(
      concat_ws(":", col("l_orderkey"), col("l_linenumber"))), lit(100L))
    Tables.lineitem(s, dir)
      .filter((col("l_returnflag") === "R" && bucket < 20) ||
        (col("l_returnflag") =!= "R" && bucket < 5))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sampled"))
  }

  val stratifiedSampleSql: String = {
    val bucket = s"(${graft.llm.Hashing.sqlHash60(
      "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")}) % 100"
    s"""SELECT l_returnflag, COUNT(*) AS n_sampled FROM lineitem
       |WHERE (l_returnflag = 'R' AND $bucket < 20)
       |   OR (l_returnflag <> 'R' AND $bucket < 5)
       |GROUP BY l_returnflag""".stripMargin
  }

  /** Skew-mitigated aggregation: two-phase salted aggregate. Phase 1
    * splits each (potentially hot) key across `salts` sub-keys — partial
    * sums happen on salted partitions so no single reducer sees a hot
    * key's full volume; phase 2 merges the per-salt partials. The oracle
    * is the plain aggregate: salting must be a pure physical rewrite.
    */
  def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    val salts = 8
    Tables.lineitem(s, dir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(salts.toLong)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(col("l_quantity").cast("decimal(38,2)")).as("part_qty"),
        count(lit(1)).as("part_n"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("part_qty")).cast("double").as("sum_qty"),
        sum(col("part_n")).as("n_rows"))
  }

  val saltedAggSql: String =
    s"""SELECT l_returnflag, ${Exact.sqlSum("l_quantity", 2)} AS sum_qty,
       |COUNT(*) AS n_rows FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Fuzzy matching: edit-distance pairs over name prefixes (levenshtein
    * is a published exact algorithm — identical in both engines). Bounded
    * scan-side; at scale the candidate pairs come from LSH banding first.
    */
  def fuzzyPairs(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_partkey") <= 200)
      .select(col("p_partkey"), col("p_name"))
    val a = p.select(col("p_partkey").as("a_id"), col("p_name").as("a_name"))
    val b = p.select(col("p_partkey").as("b_id"), col("p_name").as("b_name"))
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= 8)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  val fuzzyPairsSql: String =
    """SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
      |CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
      |WHERE a.p_partkey <= 200 AND b.p_partkey <= 200
      |  AND levenshtein(a.p_name, b.p_name) <= 8""".stripMargin

  /** Exact discrete median (element pick, no interpolation arithmetic —
    * engine-stable unlike continuous percentiles): the lower-median
    * quantity per return flag.
    *
    * Histogram formulation: the median of a DISCRETE domain depends only
    * on the value multiset, so instead of sorting every fact row inside a
    * per-flag window (the shape that buffers the whole table into a few
    * window partitions — hopeless at 100 TB), aggregate to one
    * (flag, quantity, count) row per distinct value, cumulative-sum that
    * tiny histogram, and pick the value whose cumulative range covers the
    * lower-median position. One map-side-combinable aggregate over the
    * corpus; the window runs over ~50 rows per flag. Identical output to
    * the sort-based form (the oracle keeps that formulation — two
    * algorithms, one fixpoint).
    */
  def discreteMedian(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val hist = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    // explicit floor: Spark's int cast truncates but DuckDB's rounds,
    // so (n+1)/2 must be floored before casting in BOTH engines
    val targets = hist.groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n"))
      .select(col("l_returnflag"), floor((col("n") + 1) / 2.0).cast("long").as("target"))
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity").asc)
    hist.withColumn("cum", sum(col("cnt")).over(w))
      .join(broadcast(targets), "l_returnflag")
      .filter(col("cum") >= col("target") && (col("cum") - col("cnt")) < col("target"))
      .select(col("l_returnflag"), col("l_quantity").as("median_qty"))
  }

  val discreteMedianSql: String =
    """SELECT l_returnflag, l_quantity AS median_qty FROM (
      |  SELECT l_returnflag, l_quantity,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_quantity ASC, l_orderkey ASC, l_linenumber ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |WHERE rn = CAST(FLOOR((n + 1) / 2.0) AS INT)""".stripMargin

  /** Collect-to-array with deterministic ordering: the distinct event
    * types per user as a sorted array (a bare collect_list is
    * partition-order-dependent — never oracle-stable, never
    * reproducible; sort_array(collect_set(...)) is).
    */
  def collectTypes(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
        count(lit(1)).as("n_events"))

  val collectTypesSql: String =
    """SELECT user_id,
      |array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types,
      |COUNT(*) AS n_events
      |FROM events GROUP BY user_id""".stripMargin

  /** Date/time function surface: add/diff/trunc/last_day/day-of-week over
    * order dates (engine-paired forms only — months_between-style
    * fractional semantics differ across engines by definition and are
    * deliberately excluded).
    */
  def dateFunctions(s: SparkSession, dir: String): DataFrame = {
    // date-typed outputs are rendered as ISO strings: engines (and their
    // pandas bridges) disagree on DATE vs TIMESTAMP physical types, which
    // would make a hash compare about dtypes, not values
    def iso(c: org.apache.spark.sql.Column) = date_format(c, "yyyy-MM-dd")
    val od = col("o_orderdate").cast("date")
    Tables.orders(s, dir)
      .filter(col("o_orderkey") <= 1000)
      .select(
        col("o_orderkey"),
        iso(od).as("od"),
        iso(date_add(od, 30)).as("plus30"),
        datediff(lit("1998-01-01").cast("date"), od).as("days_to_98"),
        iso(trunc(od, "MM")).as("month_start"),
        iso(last_day(od)).as("month_end"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("month_index"))
  }

  val dateFunctionsSql: String =
    """SELECT o_orderkey,
      |strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS od,
      |strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
      |CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) AS days_to_98,
      |strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m-%d') AS month_start,
      |strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
      |CAST(dayofweek(o_orderdate) AS INT) AS dow,
      |CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS month_index
      |FROM orders WHERE o_orderkey <= 1000""".stripMargin

  /** String function surface over part names. */
  def stringFunctions(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_partkey") <= 500)
      .select(
        col("p_partkey"),
        trim(col("p_name")).as("trimmed"),
        lpad(col("p_brand"), 12, "_").as("padded"),
        regexp_replace(col("p_name"), " ", "-").as("dashed"),
        reverse(col("p_type")).as("rev_type"),
        element_at(split(col("p_type"), " "), 1).as("type_head"),
        instr(col("p_name"), "a").as("first_a"),
        translate(col("p_brand"), "#", "N").as("brand_norm"),
        substring(col("p_name"), 1, 5).as("prefix5"),
        repeat(col("p_brand"), 2).as("brand2"))

  val stringFunctionsSql: String =
    """SELECT p_partkey,
      |trim(p_name) AS trimmed,
      |lpad(p_brand, 12, '_') AS padded,
      |replace(p_name, ' ', '-') AS dashed,
      |reverse(p_type) AS rev_type,
      |split_part(p_type, ' ', 1) AS type_head,
      |CAST(instr(p_name, 'a') AS INT) AS first_a,
      |translate(p_brand, '#', 'N') AS brand_norm,
      |substring(p_name, 1, 5) AS prefix5,
      |repeat(p_brand, 2) AS brand2
      |FROM part WHERE p_partkey <= 500""".stripMargin

  /** Tumbling-window time aggregation: events per hour per type. Window
    * start rendered as a string so engine timestamp precision (µs vs ns)
    * can't skew the hash.
    */
  def timeWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value"), 2).as("total"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total"))

  val timeWindowSql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       |event_type, COUNT(*) AS n, ${Exact.sqlSum("value", 2)} AS total
       |FROM events GROUP BY 1, 2""".stripMargin
}
