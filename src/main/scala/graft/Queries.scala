package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.owned

import graft.graph.{Algos, Prep}
import graft.functions.Sketches
import graft.operators.{AsOfJoin, DistributedRank, Quantiles, RangeJoin, Skyline}
import graft.sql.{Exact, OracleGen}
import graft.sql.Exact.{e2, e4, e6}

/** One declared query: its name, its Spark plan over the input tables,
  * and the DuckDB SQL that produces the same rows from the same parquet
  * files. */
final case class Query(name: String, plan: Tables => DataFrame, oracle: String)

object Query {
  /** `qs` by name; throws if two share a name, which a map would
    * otherwise resolve silently to the last. */
  def index(qs: Seq[Query]): Map[String, Query] = {
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}

/** The engine's declared query corpus. Each query is one row of a
  * `queries` registry, here or in one of the six family objects: a name,
  * a plan over [[Tables]] and an oracle. [[all]] and [[oracles]] are
  * derived from the rows, and are the only place that binds a plan to
  * the tables of a scale-factor directory.
  *
  * Determinism rules: every query ends in ORDER BY on its keys; every
  * float output is emitted as a floor-scaled BIGINT via [[graft.sql.Exact]]
  * (ROUND() tie-breaking differs across engines — see Exact's doc);
  * iterative algorithms are either unique-fixpoint (WCC/SSSP/BFS/MIS/SCC,
  * oracle unrolls ≥ convergence rounds) or fixed-iteration (PageRank,
  * oracle unrolls exactly the same count).
  */
object Queries {

  // ------------------------------------------------------------------
  // relational corpus (Giraph itself has none — SURVEY §2.10 — but the
  // engine inherits full SQL from Spark; these double as bench headliners)
  // ------------------------------------------------------------------

  private def q01(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-01")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        e2(sum(col("l_quantity"))).as("sum_qty_e2"),
        e2(sum(col("l_extendedprice"))).as("sum_base_e2"),
        e2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_e2"),
        e6(avg(col("l_quantity"))).as("avg_qty_e6"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |CAST(FLOOR(SUM(l_quantity) * 100) AS BIGINT) AS sum_qty_e2,
      |CAST(FLOOR(SUM(l_extendedprice) * 100) AS BIGINT) AS sum_base_e2,
      |CAST(FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS sum_disc_e2,
      |CAST(FLOOR(AVG(l_quantity) * 1000000) AS BIGINT) AS avg_qty_e6,
      |COUNT(*) AS cnt
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace('\n', ' ')

  private def q03(t: Tables): DataFrame =
    t.customer.filter(col("c_mktsegment") === "BUILDING")
      .join(t.orders.filter(col("o_orderdate") < to_timestamp(lit("1998-06-01"))),
        col("c_custkey") === col("o_custkey"))
      .join(t.lineitem.filter(col("l_shipdate") > to_timestamp(lit("1998-06-01"))),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(e2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_e2"))
      .orderBy(col("revenue_e2").desc, col("o_orderkey"))
      .limit(10)

  private val q03Sql =
    """SELECT o_orderkey, CAST(FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_e2
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY o_orderkey ORDER BY revenue_e2 DESC, o_orderkey LIMIT 10""".stripMargin.replace('\n', ' ')

  private def q06(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(e2(sum(col("l_extendedprice") * col("l_discount"))).as("revenue_e2"),
        count(lit(1)).as("cnt"))

  private val q06Sql =
    """SELECT CAST(FLOOR(SUM(l_extendedprice * l_discount) * 100) AS BIGINT) AS revenue_e2, COUNT(*) AS cnt
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin.replace('\n', ' ')

  private def q05(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t.supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(e2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_e2"))
      .orderBy(col("n_name"))

  private val q05Sql =
    """SELECT n_name, CAST(FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_e2
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin.replace('\n', ' ')

  private def qRollup(t: Tables): DataFrame =
    t.lineitem.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(e2(sum(col("l_quantity"))).as("sum_qty_e2"), count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val qRollupSql =
    """SELECT l_returnflag, l_linestatus, CAST(FLOOR(SUM(l_quantity) * 100) AS BIGINT) AS sum_qty_e2, COUNT(*) AS cnt
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin.replace('\n', ' ')

  // `ts` is normalized to a BIGINT of epoch MICROseconds (see Tables.events
  // doc): integral arithmetic on it is exactly reproducible in the oracle
  // via DuckDB's epoch_us (which truncates the parquet ns the same way the
  // Spark 4 TIMESTAMP_NTZ read does).
  /** Z-order key computation ([[graft.operators.ZOrder.zValue]]): the
    * Morton interleave of (user_id, day) as a codegen'd bit expression,
    * oracle-matched bit-for-bit — the correctness half of the z-order
    * layout story (the file-locality half is the PipelineSpec
    * fewer-files-touched assert). */
  private def qZorderKeys(t: Tables): DataFrame =
    t.events.filter(col("event_id") < 200)
      .select(col("event_id"), col("user_id"),
        expr("ts div 86400000000").as("day"))
      .withColumn("z", graft.operators.ZOrder.zValue(col("user_id"), col("day")))
      .orderBy(col("event_id"))

  private val qZorderKeysSql =
    s"""SELECT event_id, user_id, epoch_us(ts) // 86400000000 AS day,
       |${graft.operators.ZOrder.zValueSql("user_id", "(epoch_us(ts) // 86400000000)")} AS z
       |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin.replace('\n', ' ')

  /** Semi-structured extraction: the JSON `props` payload parsed with
    * the engine's native JSON path functions (get_json_object — a
    * codegen'd expression, no UDF) and aggregated as exact integers.
    * The "schema-on-read attribute bag" shape event pipelines carry. */
  private def qPropsJson(t: Tables): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    t.events.select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        count(when(col("k") >= 50, lit(1))).as("n_high"))
      .orderBy(col("event_type"))
  }

  private val qPropsJsonSql =
    """WITH e AS (SELECT event_type,
      |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      |SELECT event_type, COUNT(*) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k,
      |MIN(k) AS min_k, MAX(k) AS max_k,
      |COUNT(*) FILTER (WHERE k >= 50) AS n_high
      |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin.replace('\n', ' ')

  /** Anti-join churn query: customers with no order since 2001-01-01
    * (left_anti — Spark's native hash anti path, no NOT-IN rewrite; the
    * order-side filter is pushed into the scan before the join build). */
  private def qAntiCustomers(t: Tables): DataFrame = {
    val recent = t.orders
      .filter(col("o_orderdate") >= to_timestamp(lit("2001-01-01")))
    t.customer.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  private val qAntiCustomersSql =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin.replace('\n', ' ')

  /** Revenue deciles: customers ntile(10)-bucketed by total spend
    * (unique (rev desc, custkey) order makes the bucketing a pure
    * function of the data — NTILE's remainder-to-early-buckets rule is
    * shared SQL semantics). The bucketing runs on
    * [[graft.operators.DistributedRank]] (range-partitioned offset
    * rank, NTILE derived arithmetically from the global row number) —
    * never a zero-partitionBy window over the customer frame. */
  private def qNtile(t: Tables): DataFrame = {
    val rev = t.orders.groupBy(col("o_custkey"))
      .agg(e2(sum(col("o_totalprice"))).as("rev_e2"))
    DistributedRank.withNtile(rev,
        Seq(col("rev_e2").desc, col("o_custkey")), 10, "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev_e2")).as("sum_rev_e2"))
      .orderBy(col("decile"))
  }

  private val qNtileSql =
    """WITH rev AS (SELECT o_custkey,
      |CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS rev_e2
      |FROM orders GROUP BY 1),
      |d AS (SELECT rev_e2, NTILE(10) OVER (ORDER BY rev_e2 DESC, o_custkey) AS decile FROM rev)
      |SELECT decile, COUNT(*) AS n_customers,
      |CAST(SUM(rev_e2) AS BIGINT) AS sum_rev_e2
      |FROM d GROUP BY 1 ORDER BY decile""".stripMargin.replace('\n', ' ')

  /** Full CUBE over (returnflag, linestatus): all four grouping sets in
    * one pass (Spark expands to a single Expand + hash agg — map-side
    * combinable, one shuffle). COALESCE to the 'ALL' sentinel AFTER
    * grouping on both engines so the output needs no null-sort
    * convention. */
  private def qCube(t: Tables): DataFrame =
    t.lineitem.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), e2(sum(col("l_quantity"))).as("qty_e2"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("cnt"), col("qty_e2"))
      .orderBy(col("rf"), col("ls"))

  private val qCubeSql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      |COALESCE(l_linestatus, 'ALL') AS ls, COUNT(*) AS cnt,
      |CAST(FLOOR(SUM(l_quantity) * 100) AS BIGINT) AS qty_e2
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin.replace('\n', ' ')

  /** Day × event-type count matrix via Spark's native pivot with an
    * EXPLICIT value list (implicit pivot collects the distinct values to
    * the driver — the explicit list keeps the plan static and the
    * columns deterministic). Oracle is the portable conditional-agg
    * spelling. */
  private def qPivot(t: Tables): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    t.events.select(expr("ts div 86400000000").as("day"), col("event_type"))
      .groupBy(col("day")).pivot("event_type", types).count()
      .select(col("day") +: types.map(ty => coalesce(col(ty), lit(0L)).as(ty)): _*)
      .orderBy(col("day"))
  }

  // COUNT(*) FILTER, not SUM(CASE): DuckDB's integer SUM returns HUGEINT,
  // which pandas surfaces as a different dtype than Spark's BIGINT count
  private val qPivotSql =
    """SELECT epoch_us(ts) // 86400000000 AS day,
      |COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      |COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |COUNT(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin.replace('\n', ' ')

  /** 7-day moving average of daily order revenue. The daily rollup is a
    * normal distributed agg; the trailing window then runs over ONE row
    * per day — a tiny, inherently sequential series, so the
    * single-partition global sort is the right plan (the 100 TB cost
    * lives in the rollup, not the window). Division happens on exact
    * scaled BIGINTs via the one IEEE double divide both engines share. */
  private def qMovingAvg(t: Tables): DataFrame = {
    val daily = t.orders
      .select(to_date(col("o_orderdate")).as("d"), col("o_totalprice"))
      .groupBy(col("d")).agg(e2(sum(col("o_totalprice"))).as("day_rev_e2"))
    val w = Window.orderBy(col("d")).rowsBetween(-6, 0)
    daily.select(col("d").cast("string").as("day"), col("day_rev_e2"),
        floor(sum(col("day_rev_e2")).over(w).cast("double") /
          count(lit(1)).over(w).cast("double")).cast("long").as("ma7_e2"))
      .orderBy(col("day"))
  }

  private val qMovingAvgSql =
    """WITH daily AS (SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
      |CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS day_rev_e2
      |FROM orders GROUP BY 1)
      |SELECT day, day_rev_e2,
      |CAST(FLOOR(CAST(SUM(day_rev_e2) OVER w AS DOUBLE) /
      |CAST(COUNT(*) OVER w AS DOUBLE)) AS BIGINT) AS ma7_e2
      |FROM daily
      |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin.replace('\n', ' ')

  /** Exact quartiles of lineitem quantity per returnflag
    * ([[graft.operators.Quantiles]]): the quantile_cont definition in
    * pure scaled-BIGINT arithmetic — the exact companion to
    * percentile_approx's sketch path. */
  private def qQuantiles(t: Tables): DataFrame =
    Quantiles.exactScaled(
      t.lineitem.select(col("l_returnflag"), floor(col("l_quantity")).cast("long").as("qty")),
      valueCol = "qty", groupCol = "l_returnflag",
      ps = Seq((1, 4), (1, 2), (3, 4)), scale = 1000000L)

  private val qQuantilesSql = Quantiles.exactScaledSql(
    "lineitem", "CAST(FLOOR(l_quantity) AS BIGINT)", "l_returnflag",
    Seq((1, 4), (1, 2), (3, 4)), 1000000L)

  /** KMV distinct-user sketch per event type
    * ([[graft.functions.Sketches.kmvDistinct]]): estimate AND exact
    * side by side, both integer-reproducible by the oracle. */
  private def qKmv(t: Tables): DataFrame =
    Sketches.kmvDistinct(t.events, keyCol = "user_id",
      groupCol = "event_type", k = 64)

  private val qKmvSql =
    Sketches.kmvDistinctSql("events", "user_id", "event_type", 64)

  /** Type-2 slowly-changing-dimension build: each user's purchase-value
    * history as (valid_from, valid_to] intervals — current row open
    * (NULL-free: sentinel max). One window (lead over the per-user time
    * sort, the shuffle any history build needs); everything else is
    * projection. The "replay updates into a dimension table" op every
    * warehouse load runs. */
  private def qScd2(t: Tables): DataFrame = {
    val p = t.events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("us"),
        col("event_id"), e2(col("value")).as("value_e2"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    p.select(col("user_id"), col("event_id"), col("value_e2"),
        col("us").as("valid_from_us"),
        coalesce(lead(col("us"), 1).over(w), lit(Long.MaxValue)).as("valid_to_us"),
        (lead(col("us"), 1).over(w).isNull).cast("int").as("is_current"))
      .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
  }

  private val qScd2Sql =
    s"""SELECT user_id, event_id, CAST(FLOOR(value * 100) AS BIGINT) AS value_e2,
       |epoch_us(ts) AS valid_from_us,
       |COALESCE(LEAD(epoch_us(ts), 1) OVER w, ${Long.MaxValue}) AS valid_to_us,
       |CASE WHEN LEAD(epoch_us(ts), 1) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
       |FROM events WHERE event_type = 'purchase'
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
       |ORDER BY user_id, valid_from_us, event_id""".stripMargin.replace('\n', ' ')

  /** Clickstream path mining: the top 20 three-step event-type sequences
    * (per user, time-ordered). Two leads over one per-user window, then
    * a count — sequence extraction without per-user event-list
    * materialization. */
  private def qEventPaths(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .select(col("event_type").as("s1"),
        lead(col("event_type"), 1).over(w).as("s2"),
        lead(col("event_type"), 2).over(w).as("s3"))
      .filter(col("s3").isNotNull)
      .groupBy(col("s1"), col("s2"), col("s3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("s1"), col("s2"), col("s3"))
      .limit(20)
  }

  private val qEventPathsSql =
    """WITH p AS (SELECT event_type AS s1,
      |LEAD(event_type, 1) OVER w AS s2, LEAD(event_type, 2) OVER w AS s3
      |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT s1, s2, s3, COUNT(*) AS cnt FROM p WHERE s3 IS NOT NULL
      |GROUP BY 1, 2, 3 ORDER BY cnt DESC, s1, s2, s3 LIMIT 20""".stripMargin.replace('\n', ' ')

  /** Calendar spine fill: zero-fill the daily revenue series over the
    * full [min, max] day range (`sequence` + explode generates the spine
    * distributively — no driver loop, no stored calendar table). */
  private def qCalendarFill(t: Tables): DataFrame = {
    val daily = t.orders
      .select(expr("CAST(o_orderdate AS DATE)").as("d"), col("o_totalprice"))
      .groupBy(col("d")).agg(e2(sum(col("o_totalprice"))).as("rev_e2"))
    val spine = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("d"))
    spine.join(daily, Seq("d"), "left")
      .select(col("d").cast("string").as("day"),
        coalesce(col("rev_e2"), lit(0L)).as("rev_e2"),
        col("rev_e2").isNull.cast("int").as("is_gap"))
      .orderBy(col("day"))
  }

  private val qCalendarFillSql =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
      |CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS rev_e2
      |FROM orders GROUP BY 1),
      |spine AS (SELECT unnest(generate_series(
      |(SELECT MIN(d) FROM daily), (SELECT MAX(d) FROM daily),
      |INTERVAL 1 DAY))::DATE AS d)
      |SELECT CAST(spine.d AS VARCHAR) AS day,
      |COALESCE(daily.rev_e2, 0) AS rev_e2,
      |CASE WHEN daily.rev_e2 IS NULL THEN 1 ELSE 0 END AS is_gap
      |FROM spine LEFT JOIN daily ON spine.d = daily.d
      |ORDER BY day""".stripMargin.replace('\n', ' ')

  /** Cohort retention matrix: users grouped by their first-seen day,
    * counted per day-offset thereafter. Two shuffles total — a per-user
    * min (map-side combinable) and the (cohort, offset) distinct-count —
    * both on natural keys; no window, no driver state. The classic
    * product-analytics query a warehouse engine must make cheap. */
  private def qCohort(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), expr("ts div 86400000000").as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  private val qCohortSql =
    """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id)
      |SELECT f.cohort_day, ev.day - f.cohort_day AS day_offset,
      |COUNT(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN f ON ev.user_id = f.user_id
      |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin.replace('\n', ' ')

  /** Ordered funnel: per user, the earliest signup, the earliest click
    * AFTER that signup, the earliest purchase AFTER that click — then
    * stage totals. Min-aggregations over conditional timestamps (two
    * self-joins on user_id, both AQE-sized); the sequential-pattern
    * match never materializes per-user event lists. */
  private def qFunnel(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"),
      col("ts").as("us"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("t_signup"))
    val cl = ev.filter(col("event_type") === "click").select(col("user_id"), col("us"))
      .join(su, Seq("user_id"))
      .filter(col("us") >= col("t_signup"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t_click"))
    val pu = ev.filter(col("event_type") === "purchase").select(col("user_id"), col("us"))
      .join(cl, Seq("user_id"))
      .filter(col("us") >= col("t_click"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t_purchase"))
    su.select(lit(1).as("stage"), lit("signup").as("name"), col("user_id"))
      .union(cl.select(lit(2).as("stage"), lit("click").as("name"), col("user_id")))
      .union(pu.select(lit(3).as("stage"), lit("purchase").as("name"), col("user_id")))
      .groupBy(col("stage"), col("name")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  private val qFunnelSql =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |su AS (SELECT user_id, MIN(us) AS t_signup FROM ev WHERE event_type = 'signup' GROUP BY 1),
      |cl AS (SELECT ev.user_id, MIN(us) AS t_click FROM ev JOIN su ON ev.user_id = su.user_id
      |WHERE event_type = 'click' AND us >= t_signup GROUP BY 1),
      |pu AS (SELECT ev.user_id, MIN(us) AS t_purchase FROM ev JOIN cl ON ev.user_id = cl.user_id
      |WHERE event_type = 'purchase' AND us >= t_click GROUP BY 1)
      |SELECT stage, name, COUNT(*) AS n_users FROM (
      |SELECT 1 AS stage, 'signup' AS name, user_id FROM su
      |UNION ALL SELECT 2, 'click', user_id FROM cl
      |UNION ALL SELECT 3, 'purchase', user_id FROM pu) z
      |GROUP BY 1, 2 ORDER BY stage""".stripMargin.replace('\n', ' ')

  /** Per-nation revenue THROUGH the salted-join path
    * ([[graft.graph.Skew.saltedJoin]]): lineitem scattered 8 ways on a
    * deterministic row hash, the supplier dim replicated to every salt.
    * The oracle is the plain join — salting must be invisible in the
    * result, which is exactly the property worth a standing oracle.
    * (With AQE on, Spark splits skewed partitions at runtime; the salted
    * path is the explicit fallback for pre-partitioned inputs and for
    * single hub keys hotter than one task — SURVEY §2.7.) */
  private def qSkewSalted(t: Tables): DataFrame = {
    val li = t.lineitem.select(col("l_suppkey").as("s_suppkey"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val supp = t.supplier.select(col("s_suppkey"), col("s_nationkey"))
    graft.graph.Skew.saltedJoin(li, supp, key = "s_suppkey", salt = 8)
      .groupBy(col("s_nationkey").cast("long").as("nationkey"))
      .agg(e2(sum(col("rev"))).as("rev_e2"), count(lit(1)).as("cnt"))
      .orderBy(col("nationkey"))
  }

  private val qSkewSaltedSql =
    """SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
      |CAST(FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS rev_e2,
      |COUNT(*) AS cnt
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' ')

  private def qSessions(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("ts") - col("prev") > lit(1800000000L), 1)
          .otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_s")).as("sessions"), count(lit(1)).as("events_cnt"))
      .orderBy(col("user_id"))
  }

  private val qSessionsSql =
    """SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS sessions, COUNT(*) AS events_cnt FROM (
      |SELECT user_id,
      |CASE WHEN lag_us IS NULL OR epoch_us(ts) - lag_us > 1800000000
      |THEN 1 ELSE 0 END AS new_s FROM (
      |SELECT user_id, ts,
      |LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lag_us
      |FROM events) a ) b
      |GROUP BY user_id ORDER BY user_id""".stripMargin.replace('\n', ' ')

  private def qTumbling(t: Tables): DataFrame =
    t.events
      .groupBy(expr("ts div 3600000000").as("hour_idx"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), e4(sum(col("value"))).as("sum_value_e4"))
      .orderBy(col("hour_idx"), col("event_type"))

  private val qTumblingSql =
    """SELECT epoch_us(ts) // 3600000000 AS hour_idx,
      |event_type, COUNT(*) AS cnt, CAST(FLOOR(SUM(value) * 10000) AS BIGINT) AS sum_value_e4
      |FROM events GROUP BY 1, 2 ORDER BY hour_idx, event_type""".stripMargin.replace('\n', ' ')

  /** Sliding 1h windows every 15min: each event lands in 4 windows
    * (win_idx = start/slide); integral ns arithmetic replayed by the
    * oracle. Streaming twin: EventStreams.slidingCounts (StreamingSpec
    * asserts parity). */
  private def qSliding(t: Tables): DataFrame =
    t.events
      .select(col("event_type"), col("value"),
        explode(sequence(lit(0L), lit(3L))).as("k"),
        expr("ts div 900000000").as("slot"))
      .select(col("event_type"), col("value"), (col("slot") - col("k")).as("win_idx"))
      .groupBy(col("win_idx"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), e4(sum(col("value"))).as("sum_value_e4"))
      .orderBy(col("win_idx"), col("event_type"))

  private val qSlidingSql =
    """SELECT win_idx, event_type, COUNT(*) AS cnt,
      |CAST(FLOOR(SUM(value) * 10000) AS BIGINT) AS sum_value_e4 FROM (
      |SELECT event_type, value, epoch_us(ts) // 900000000 - k AS win_idx
      |FROM events, unnest([0, 1, 2, 3]) AS t(k)) z
      |GROUP BY 1, 2 ORDER BY win_idx, event_type""".stripMargin.replace('\n', ' ')

  /** Backward as-of join ([[graft.operators.AsOfJoin]]): every event
    * enriched with the same user's most recent purchase event at or
    * before its timestamp — the "latest feature value as of example
    * time" shape of training-data assembly. Oracle: DuckDB's native
    * ASOF LEFT JOIN, an independent implementation of the semantics. */
  private def qAsofPurchase(t: Tables): DataFrame = {
    // micros on both engines: DuckDB surfaces parquet timestamp[ns] at
    // microsecond precision, so the join must compare at micros too
    val ev = t.events.select(col("event_id"), col("user_id"),
      col("ts").as("ts_us"))
    // pre-dedup same-(user, micro-ts) purchases to the max event_id in
    // BOTH engines: DuckDB's ASOF picks an arbitrary tied right row,
    // Spark's rightTieBreak picks the max — resolve ties identically
    // before either engine sees them so the oracle can never go flaky
    val purchases = t.events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts_us"),
        col("event_id").as("last_purchase_id"),
        e2(col("value")).as("last_purchase_value_e2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("pts_us"))
          .orderBy(col("last_purchase_id").desc)))
      .filter(col("rn") === 1).drop("rn")
    AsOfJoin.backward(ev, purchases, key = "user_id", leftTs = "ts_us",
        rightTs = "pts_us",
        rightCols = Seq("last_purchase_id", "last_purchase_value_e2"),
        inclusive = true, rightTieBreak = Some("last_purchase_id"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("last_purchase_id"), col("last_purchase_value_e2"))
      .orderBy(col("event_id"))
  }

  private val qAsofPurchaseSql =
    """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
      |p.last_purchase_id, p.last_purchase_value_e2
      |FROM events e ASOF LEFT JOIN (
      |SELECT user_id, ts, event_id AS last_purchase_id,
      |CAST(FLOOR(value * 100) AS BIGINT) AS last_purchase_value_e2
      |FROM events WHERE event_type = 'purchase'
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
      |ORDER BY event_id DESC) = 1) p
      |ON e.user_id = p.user_id AND e.ts >= p.ts
      |ORDER BY e.event_id""".stripMargin.replace('\n', ' ')

  /** Bucketized range join ([[graft.operators.RangeJoin]]): for every
    * error event, the same user's clicks within the following hour —
    * interval attribution without a per-key cross product (time is part
    * of the equi-key). Micros on both engines, as q_asof_purchase. */
  private def qRangeAttrib(t: Tables): DataFrame = {
    val hourUs = 3600000000L
    val clicks = t.events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("ct"))
    val errors = t.events.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        col("ts").as("es"),
        (col("ts") + lit(hourUs)).as("ee"))
    RangeJoin.pointInInterval(clicks, errors,
        key = "user_id", t = "ct", start = "es", end = "ee",
        bucketWidth = hourUs)
      .groupBy(col("error_id"))
      .agg(count(lit(1)).as("clicks"), min(col("click_id")).as("first_click_id"))
      .orderBy(col("error_id"))
  }

  private val qRangeAttribSql =
    """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS ct
      |FROM events WHERE event_type = 'click'),
      |x AS (SELECT user_id, event_id AS error_id, epoch_us(ts) AS es,
      |epoch_us(ts) + 3600000000 AS ee FROM events WHERE event_type = 'error')
      |SELECT x.error_id, COUNT(*) AS clicks, MIN(c.click_id) AS first_click_id
      |FROM x JOIN c ON c.user_id = x.user_id AND c.ct >= x.es AND c.ct <= x.ee
      |GROUP BY x.error_id ORDER BY x.error_id""".stripMargin.replace('\n', ' ')

  /** Gaps-and-islands: per-user activity merged into bursts separated by
    * > 30 min of silence — the classic lag + running-flag-sum rewrite
    * (two window passes over ONE (user, ts) sort; the partition key is
    * the shuffle key, so at 100 TB this is a single exchange). Island
    * membership is order-tie-proof: equal timestamps have gap 0, so any
    * tie order yields the same islands; (ts, event_id) ordering makes the
    * running sum itself deterministic too. */
  private def qGapsIslands(t: Tables): DataFrame = {
    val gapUs = 1800000000L // 30 min; micros on both engines (as q_asof_purchase)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val lagTs = lag(col("ts_us"), 1).over(w)
    t.events.select(col("user_id"), col("event_id"), col("ts").as("ts_us"))
      .withColumn("nf", when(lagTs.isNull || col("ts_us") - lagTs > lit(gapUs), 1L).otherwise(0L))
      .withColumn("island", sum(col("nf")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("island"))
  }

  private val qGapsIslandsSql =
    """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |f AS (SELECT user_id, event_id, ts_us,
      |CASE WHEN LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
      |OR ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
      |THEN 1 ELSE 0 END AS nf FROM ev),
      |i AS (SELECT user_id, ts_us, CAST(SUM(nf) OVER (PARTITION BY user_id
      |ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island FROM f)
      |SELECT user_id, island, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us, COUNT(*) AS n_events
      |FROM i GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin.replace('\n', ' ')

  /** Irregular GROUPING SETS — the shape neither CUBE nor ROLLUP covers
    * (three sets, no grand total), with an explicit grouping-id
    * provenance column computed the same way on both engines. Spark
    * expands to one Expand + single hash agg: one shuffle for all three
    * granularities. */
  private def qGroupingSets(t: Tables): DataFrame =
    t.orders.groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), e2(sum(col("o_totalprice"))).as("rev_e2"),
        (grouping(col("o_orderpriority")) * lit(2) + grouping(col("o_orderstatus")))
          .cast("long").as("gid"))
      .select(col("gid"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        col("cnt"), col("rev_e2"))
      .orderBy(col("gid"), col("pri"), col("st"))

  private val qGroupingSetsSql =
    """SELECT CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
      |COALESCE(o_orderpriority, 'ALL') AS pri, COALESCE(o_orderstatus, 'ALL') AS st,
      |COUNT(*) AS cnt, CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS rev_e2
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), (o_orderstatus))
      |ORDER BY gid, pri, st""".stripMargin.replace('\n', ' ')

  /** Data-quality expectation suite (the deequ/great-expectations shape):
    * referential integrity, primary-key uniqueness, domain and null
    * checks, each reduced to a violation count. Every check is an
    * independent scan-and-count — at 100 TB they run as parallel jobs
    * over pruned column subsets; a zero row is as meaningful as a
    * non-zero one (the oracle pins both). */
  private def qDqChecks(t: Tables): DataFrame = {
    def chk(name: String, violations: DataFrame): DataFrame =
      violations.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    val checks = Seq(
      chk("doc_empty_text", t.documents.filter(length(trim(col("text"))) === 0)),
      chk("event_null_user", t.events.filter(col("user_id").isNull)),
      chk("lineitem_bad_qty",
        t.lineitem.filter(col("l_quantity") <= 0 || col("l_quantity") > 100)),
      chk("lineitem_dup_pk",
        t.lineitem.groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(count(lit(1)).as("c")).filter(col("c") > 1)),
      chk("lineitem_orphan_order",
        t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"), "left_anti")),
      chk("order_dup_pk",
        t.orders.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c")).filter(col("c") > 1)),
      chk("order_null_date", t.orders.filter(col("o_orderdate").isNull)),
      chk("order_orphan_customer",
        t.orders.join(t.customer, col("o_custkey") === col("c_custkey"), "left_anti")))
    checks.reduce(_ unionByName _).orderBy(col("check_name"))
  }

  private val qDqChecksSql =
    """SELECT * FROM (
      |SELECT 'doc_empty_text' AS check_name, (SELECT COUNT(*) FROM documents WHERE LENGTH(TRIM(text)) = 0) AS n_violations
      |UNION ALL SELECT 'event_null_user', (SELECT COUNT(*) FROM events WHERE user_id IS NULL)
      |UNION ALL SELECT 'lineitem_bad_qty', (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0 OR l_quantity > 100)
      |UNION ALL SELECT 'lineitem_dup_pk', (SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1) d)
      |UNION ALL SELECT 'lineitem_orphan_order', (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |UNION ALL SELECT 'order_dup_pk', (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1) d)
      |UNION ALL SELECT 'order_null_date', (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL)
      |UNION ALL SELECT 'order_orphan_customer', (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |) t ORDER BY check_name""".stripMargin.replace('\n', ' ')

  private val profileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  /** One-pass column profiling (null + exact-distinct counts for every
    * lineitem column) — the table-stats operator every warehouse needs.
    * All 22 aggregates run in ONE job: Spark expands the multi-DISTINCT
    * agg to an Expand (×11 input replication, each replica one pruned
    * column wide) + a single hash agg. At 100 TB swap count_distinct for
    * approx_count_distinct and the Expand disappears — kept exact here
    * because exact is what the oracle can pin. */
  private def qProfile(t: Tables): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: profileCols.flatMap(c =>
      Seq(count(col(c)).as(s"${c}__nn"), count_distinct(col(c)).as(s"${c}__nd")))
    val stackArgs = profileCols.map(c => s"'$c', ${c}__nn, ${c}__nd").mkString(", ")
    t.lineitem.agg(aggs.head, aggs.tail: _*)
      .selectExpr("n_rows",
        s"stack(${profileCols.length}, $stackArgs) AS (col_name, n_notnull, n_distinct)")
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_notnull")).as("n_nulls"), col("n_distinct"))
      .orderBy(col("col_name"))
  }

  private val qProfileSql =
    "SELECT col_name, n_rows, n_nulls, n_distinct FROM (" +
      profileCols.map(c =>
        s"SELECT '$c' AS col_name, COUNT(*) AS n_rows, COUNT(*) - COUNT($c) AS n_nulls, " +
          s"COUNT(DISTINCT $c) AS n_distinct FROM lineitem").mkString(" UNION ALL ") +
      ") t ORDER BY col_name"

  /** Bloom-pruned semi-join ([[graft.operators.BloomSemiJoin]]): orders
    * of BUILDING-segment customers, with the probe side pre-filtered by
    * a deterministic 64 Kbit filter before the exact broadcast
    * semi-join. Result-invisible (the oracle runs the plain semi-join);
    * the pruning itself is asserted in OperatorsSpec. */
  private def qBloomPrune(t: Tables): DataFrame = {
    val keys = t.customer.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    graft.operators.BloomSemiJoin.prunedSemiJoin(t.orders, "o_custkey", keys, "c_custkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), e2(sum(col("o_totalprice"))).as("rev_e2"))
      .orderBy(col("o_orderpriority"))
  }

  private val qBloomPruneSql =
    """SELECT o_orderpriority, COUNT(*) AS cnt,
      |CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS rev_e2
      |FROM orders WHERE o_custkey IN
      |(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin.replace('\n', ' ')

  /** Length-banded fuzzy similarity join: every distinct part name is
    * deterministically corrupted (one md5-positioned character replaced)
    * and matched back against the catalog at Levenshtein ≤ 2. Candidate
    * generation is an EQUI-join on exploded length bands (edit distance
    * d bounds |len(a)−len(b)| ≤ d), so no cross product ever forms; the
    * quadratic edit-distance kernel runs on candidates only. At 100 TB
    * the band key extends to (length band, first token) the same way
    * the n-gram dedup blocks. Planted corruptions guarantee ≥ 1 match
    * per probe in both engines. */
  private def qFuzzyJoin(t: Tables): DataFrame = {
    val names = t.part.select(col("p_name")).distinct()
    val probes = names
      .withColumn("pos",
        pmod(graft.pipeline.Corpus.md5Uniform(col("p_name")),
          length(col("p_name")).cast("long")))
      .select(col("p_name").as("src_name"),
        expr("concat(substring(p_name, 1, cast(pos as int)), 'x', " +
          "substring(p_name, cast(pos as int) + 2, 100))").as("corrupted"))
      .withColumn("bl", explode(array((-2 to 2).map(d =>
        length(col("corrupted")) + lit(d)): _*)))
    probes.join(names, length(col("p_name")) === col("bl"))
      .filter(levenshtein(col("corrupted"), col("p_name")) <= 2)
      .select(col("src_name"), col("corrupted"), col("p_name").as("match_name"),
        levenshtein(col("corrupted"), col("p_name")).cast("long").as("dist"))
      .orderBy(col("src_name"), col("match_name"))
  }

  private val qFuzzyJoinSql = {
    val pos = s"${OracleGen.hex6("md5(p_name)")} % LENGTH(p_name)"
    s"""WITH names AS (SELECT DISTINCT p_name FROM part),
       |co AS (SELECT p_name AS src_name,
       |concat(substring(p_name, 1, CAST($pos AS INT)), 'x',
       |substring(p_name, CAST($pos AS INT) + 2, 100)) AS corrupted FROM names)
       |SELECT c.src_name, c.corrupted, n.p_name AS match_name,
       |CAST(levenshtein(c.corrupted, n.p_name) AS BIGINT) AS dist
       |FROM co c JOIN names n ON ABS(LENGTH(n.p_name) - LENGTH(c.corrupted)) <= 2
       |AND levenshtein(c.corrupted, n.p_name) <= 2
       |ORDER BY c.src_name, n.p_name""".stripMargin.replace('\n', ' ')
  }

  /** IQR outlier detection per order priority: Tukey fences from the
    * EXACT integer quantiles ([[graft.operators.Quantiles.exactScaled]]
    * on cent-scaled totals — no doubles anywhere, so the whole fence
    * arithmetic is bit-reproducible; 1.5·IQR is ×3 div 2). The quantile
    * pass sorts per group once; the fence check is a second scan joined
    * against the broadcast per-group bounds. */
  private def qOutliers(t: Tables): DataFrame = {
    val cents = t.orders.select(col("o_orderpriority").as("g"),
      e2(col("o_totalprice")).as("v"))
    val qs = Quantiles.exactScaled(cents, "v", "g", Seq((1, 4), (3, 4)), 1L)
    val bounds = qs.groupBy(col("g"))
      .agg(max(when(col("pnum") === 1, col("q_scaled"))).as("q1"),
        max(when(col("pnum") === 3, col("q_scaled"))).as("q3"))
      .select(col("g"), col("q1"), col("q3"),
        expr("q1 - (3 * (q3 - q1)) div 2").as("lo"),
        expr("q3 + (3 * (q3 - q1)) div 2").as("hi"))
    cents.join(broadcast(bounds), Seq("g"))
      .groupBy(col("g"), col("q1"), col("q3"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        count(when(col("v") < col("lo"), lit(1))).as("n_out_low"),
        count(when(col("v") > col("hi"), lit(1))).as("n_out_high"))
      .orderBy(col("g"))
  }

  private val qOutliersSql = {
    val qsSql = Quantiles.exactScaledSql("orders",
      "CAST(FLOOR(o_totalprice * 100) AS BIGINT)", "o_orderpriority",
      Seq((1, 4), (3, 4)), 1L)
    s"""WITH b AS MATERIALIZED (SELECT g, q1, q3,
       |q1 - (3 * (q3 - q1)) // 2 AS lo, q3 + (3 * (q3 - q1)) // 2 AS hi FROM (
       |SELECT g, MAX(CASE WHEN pnum = 1 THEN q_scaled END) AS q1,
       |MAX(CASE WHEN pnum = 3 THEN q_scaled END) AS q3
       |FROM ($qsSql) qs GROUP BY g) t),
       |v AS (SELECT o_orderpriority AS g,
       |CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v FROM orders)
       |SELECT v.g, q1, q3, lo, hi, COUNT(*) AS n,
       |COUNT(*) FILTER (WHERE v < lo) AS n_out_low,
       |COUNT(*) FILTER (WHERE v > hi) AS n_out_high
       |FROM v JOIN b ON v.g = b.g
       |GROUP BY 1, 2, 3, 4, 5 ORDER BY v.g""".stripMargin.replace('\n', ' ')
  }

  /** FULL OUTER merge of two sparse hourly rollups (purchase revenue vs
    * error counts): at hour granularity both one-sided regions and the
    * overlap are populated, exercising the join type's three output
    * shapes. USING-column join, so the key coalesces natively; one
    * shuffle per rollup + the outer join on the shared hour key. */
  private def qFullOuter(t: Tables): DataFrame = {
    val purch = t.events.filter(col("event_type") === "purchase")
      .select(expr("ts div 3600000000").as("h"), col("value"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_purchases"), e2(sum(col("value"))).as("rev_e2"))
    val errs = t.events.filter(col("event_type") === "error")
      .select(expr("ts div 3600000000").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n_errors"))
    purch.join(errs, Seq("h"), "full_outer")
      .select(col("h"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("rev_e2"), lit(0L)).as("rev_e2"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"))
      .orderBy(col("h"))
  }

  private val qFullOuterSql =
    """WITH p AS (SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS n_purchases,
      |CAST(FLOOR(SUM(value) * 100) AS BIGINT) AS rev_e2
      |FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |x AS (SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS n_errors
      |FROM events WHERE event_type = 'error' GROUP BY 1)
      |SELECT COALESCE(p.h, x.h) AS h, COALESCE(n_purchases, 0) AS n_purchases,
      |COALESCE(rev_e2, 0) AS rev_e2, COALESCE(n_errors, 0) AS n_errors
      |FROM p FULL OUTER JOIN x ON p.h = x.h ORDER BY h""".stripMargin.replace('\n', ' ')

  /** Skyline (Pareto frontier) of lineitem on (minimize extendedprice,
    * maximize quantity): the dominance query every multi-objective
    * "best trade-off" report needs. Sort-filter skyline — one window
    * pass over distinct objective pairs, no O(n²) dominance self-join;
    * the two-stage bucket-pruned plan is in [[graft.operators.Skyline]]
    * (local per-bucket skylines shrink the input before the one global
    * pass, which is what keeps the global sort driver-scale at 100 TB). */
  private def qSkyline(t: Tables): DataFrame =
    Skyline.skyline(
      t.lineitem.select(e2(col("l_extendedprice")).as("price_e2"),
        col("l_quantity").cast("long").as("qty")),
      "price_e2", "qty")
      .orderBy(col("minv"))

  private val qSkylineSql =
    Skyline.skylineSql("lineitem", "CAST(FLOOR(l_extendedprice * 100) AS BIGINT)",
      "CAST(l_quantity AS BIGINT)") + " ORDER BY minv"

  /** UNPIVOT (melt): wide per-flag measure sums → long (flag, measure,
    * value) form — the inverse of q_pivot, closing the reshape pair.
    * Spark's `stack` expands inside the projection (no shuffle beyond
    * the agg); the oracle replays it as a UNION ALL of one SELECT per
    * measure over the same rollup CTE. */
  private def qUnpivot(t: Tables): DataFrame =
    t.lineitem.groupBy(col("l_returnflag"))
      .agg(e2(sum(col("l_quantity"))).as("quantity"),
        e2(sum(col("l_extendedprice"))).as("extendedprice"),
        e2(sum(col("l_discount"))).as("discount"),
        e2(sum(col("l_tax"))).as("tax"))
      .selectExpr("l_returnflag",
        "stack(4, 'quantity', quantity, 'extendedprice', extendedprice, " +
          "'discount', discount, 'tax', tax) as (measure, total_e2)")
      .orderBy(col("l_returnflag"), col("measure"))

  private val qUnpivotSql =
    """WITH a AS MATERIALIZED (SELECT l_returnflag,
      |CAST(FLOOR(SUM(l_quantity) * 100) AS BIGINT) AS quantity,
      |CAST(FLOOR(SUM(l_extendedprice) * 100) AS BIGINT) AS extendedprice,
      |CAST(FLOOR(SUM(l_discount) * 100) AS BIGINT) AS discount,
      |CAST(FLOOR(SUM(l_tax) * 100) AS BIGINT) AS tax
      |FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, measure, total_e2 FROM (
      |SELECT l_returnflag, 'quantity' AS measure, quantity AS total_e2 FROM a
      |UNION ALL SELECT l_returnflag, 'extendedprice', extendedprice FROM a
      |UNION ALL SELECT l_returnflag, 'discount', discount FROM a
      |UNION ALL SELECT l_returnflag, 'tax', tax FROM a) u
      |ORDER BY l_returnflag, measure""".stripMargin.replace('\n', ' ')

  /** Pareto/ABC classification: customers ranked by revenue, running
    * cumulative share cut at 70%/90% into A/B/C bands — the standard
    * inventory/CRM 80-20 report. The cumulative rides
    * [[graft.operators.DistributedRank]]'s range-partitioned prefix sum
    * (per-partition running sum + broadcast partition offsets — never a
    * single-partition ordered window, even though the frame is post-agg:
    * a per-customer frame is still data-sized at 100 TB); the grand
    * total is a broadcast scalar. Band thresholds compare cum·10
    * against total·7|9 in exact BIGINT cents, no fractional share until
    * the final e6. */
  private def qParetoAbc(t: Tables): DataFrame = {
    val rev = t.orders.groupBy(col("o_custkey"))
      .agg(e2(sum(col("o_totalprice"))).as("rev"))
    val tot = rev.agg(sum(col("rev")).cast("long").as("total"))
    DistributedRank.withRankAndCumSum(rev,
        Seq(col("rev").desc, col("o_custkey")), "__rn",
        Some((col("rev"), "cum")))
      .drop("__rn")
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when(col("cum") * 10 <= col("total") * 7, lit("A"))
          .when(col("cum") * 10 <= col("total") * 9, lit("B"))
          .otherwise(lit("C")))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev")).cast("long").as("rev_e2"),
        max(col("total")).as("total"))
      .select(col("cls"), col("n_customers"), col("rev_e2"),
        expr("(rev_e2 * 1000000) div total").as("share_e6"))
      .orderBy(col("cls"))
  }

  private val qParetoAbcSql =
    """WITH rev AS (SELECT o_custkey,
      |CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS rev FROM orders GROUP BY 1),
      |c AS (SELECT o_custkey, rev,
      |SUM(rev) OVER (ORDER BY rev DESC, o_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |SUM(rev) OVER () AS total FROM rev),
      |k AS (SELECT rev, total,
      |CASE WHEN cum * 10 <= total * 7 THEN 'A' WHEN cum * 10 <= total * 9 THEN 'B' ELSE 'C' END AS cls FROM c)
      |SELECT cls, COUNT(*) AS n_customers, CAST(SUM(rev) AS BIGINT) AS rev_e2,
      |CAST((CAST(SUM(rev) AS BIGINT) * 1000000) // CAST(MAX(total) AS BIGINT) AS BIGINT) AS share_e6
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' ')

  /** Smoothed target (mean) encoding of c_mktsegment against the
    * order-level label "status = F" — the categorical-feature encoder
    * of every tabular training pipeline. enc = (s + m·p_global)/(n + m)
    * with m = 10, computed as ONE exact rational
    * (s·N + m·S)·10⁶ div (N·(n + m)) — both engines divide identical
    * BIGINTs, so the smoothing is hash-exact, no doubles. Two aggs +
    * one broadcast scalar join. */
  private def qTargetEnc(t: Tables): DataFrame = {
    val lab = t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    val per = lab.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("s"))
    val glob = lab.agg(count(lit(1)).as("nn"), sum(col("y")).cast("long").as("ss"))
    per.crossJoin(broadcast(glob))
      .select(col("seg"), col("n"), col("s"),
        expr("((s * nn + 10 * ss) * 1000000) div (nn * (n + 10))").as("enc_e6"))
      .orderBy(col("seg"))
  }

  private val qTargetEncSql =
    """WITH lab AS MATERIALIZED (SELECT c_mktsegment AS seg,
      |CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |FROM orders JOIN customer ON o_custkey = c_custkey),
      |p AS (SELECT seg, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS s FROM lab GROUP BY 1),
      |g AS (SELECT COUNT(*) AS nn, CAST(SUM(y) AS BIGINT) AS ss FROM lab)
      |SELECT seg, n, s,
      |CAST(((s * nn + 10 * ss) * 1000000) // (nn * (n + 10)) AS BIGINT) AS enc_e6
      |FROM p CROSS JOIN g ORDER BY seg""".stripMargin.replace('\n', ' ')

  /** Market-basket association rules over order baskets of part brands:
    * the co-occurrence → support/confidence/lift chain every
    * recommendation and affinity report runs. Pair generation is the
    * basket self-join ON the order key (work ∝ Σ basket², never
    * items × items); per-item counts and the basket total broadcast
    * back. Confidence and lift are exact integral rationals
    * (c_xy·10⁶ div c_x and c_xy·N·10⁶ div (c_x·c_y)) so both engines
    * divide identical BIGINTs. Rules are emitted in both directions;
    * minimum support 2% of baskets. */
  private def qAssocRules(t: Tables): DataFrame = {
    val items = t.lineitem
      .join(t.part, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
      .distinct()
    val ic = items.groupBy(col("item")).agg(count(lit(1)).as("c_item"))
    val n = items.agg(countDistinct(col("ok")).as("n_baskets"))
    val pairs = items.as("a")
      .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("x"), col("b.item").as("y"))
      .agg(count(lit(1)).as("c_xy"))
    val rules = pairs.select(col("x").as("ante"), col("y").as("cons"), col("c_xy"))
      .unionByName(pairs.select(col("y").as("ante"), col("x").as("cons"), col("c_xy")))
    rules
      .join(broadcast(ic.withColumnRenamed("item", "ante").withColumnRenamed("c_item", "c_ante")), Seq("ante"))
      .join(broadcast(ic.withColumnRenamed("item", "cons").withColumnRenamed("c_item", "c_cons")), Seq("cons"))
      .crossJoin(broadcast(n))
      .filter(col("c_xy") * 50 >= col("n_baskets"))
      .select(col("ante"), col("cons"), col("c_xy"),
        expr("(c_xy * 1000000) div c_ante").as("conf_e6"),
        expr("(c_xy * n_baskets * 1000000) div (c_ante * c_cons)").as("lift_e6"))
      .orderBy(col("ante"), col("cons"))
  }

  private val qAssocRulesSql =
    """WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, p_brand AS item
      |FROM lineitem JOIN part ON l_partkey = p_partkey),
      |ic AS (SELECT item, COUNT(*) AS c_item FROM items GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM items),
      |pairs AS (SELECT a.item AS x, b.item AS y, COUNT(*) AS c_xy
      |FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item GROUP BY 1, 2),
      |rules AS (SELECT x AS ante, y AS cons, c_xy FROM pairs
      |UNION ALL SELECT y, x, c_xy FROM pairs)
      |SELECT ante, cons, c_xy,
      |CAST((c_xy * 1000000) // ia.c_item AS BIGINT) AS conf_e6,
      |CAST((c_xy * n_baskets * 1000000) // (ia.c_item * ic2.c_item) AS BIGINT) AS lift_e6
      |FROM rules JOIN ic ia ON rules.ante = ia.item
      |JOIN ic ic2 ON rules.cons = ic2.item CROSS JOIN n
      |WHERE c_xy * 50 >= n_baskets
      |ORDER BY ante, cons""".stripMargin.replace('\n', ' ')

  /** Deterministic HyperLogLog distinct-count of event ids per event
    * type (m = 64 registers; see [[graft.functions.Sketches.hllDistinct]]
    * for the engine-portable ρ = 27 − length(bin(w)) trick and the
    * all-integer α·m²/Z estimate). The at-scale replacement for exact
    * COUNT(DISTINCT): one map-side-combined (group, bucket) max agg —
    * 64 rows per group cross the shuffle regardless of input size. */
  private def qHll(t: Tables): DataFrame =
    Sketches.hllDistinct(t.events, "event_id", "event_type")

  private val qHllSql = Sketches.hllDistinctSql("events", "event_id", "event_type")

  /** Robust outlier detection via MAD (median absolute deviation):
    * per-priority median, the median of |v − med|, and the count beyond
    * 3·MAD — the heavy-tail-safe companion to q_outliers' IQR fences.
    * Both medians come from [[graft.operators.Quantiles.exactScaled]]
    * (floor-interpolated, pure BIGINT cents), the deviation frame rides
    * a broadcast of the 5-row median table, so the chain is two ranked
    * passes + two broadcast joins and never leaves exact integers. */
  private def qMad(t: Tables): DataFrame = {
    val cents = t.orders.select(col("o_orderpriority").as("g"),
      e2(col("o_totalprice")).as("v"))
    val med = Quantiles.exactScaled(cents, "v", "g", Seq((1, 2)), 1L)
      .select(col("g"), col("q_scaled").as("med"))
    val dev = cents.join(broadcast(med), Seq("g"))
      .select(col("g"), abs(col("v") - col("med")).as("d"))
    val mad = Quantiles.exactScaled(dev, "d", "g", Seq((1, 2)), 1L)
      .select(col("g"), col("q_scaled").as("mad"))
    cents.join(broadcast(med), Seq("g")).join(broadcast(mad), Seq("g"))
      .groupBy(col("g"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        count(when(abs(col("v") - col("med")) > col("mad") * 3, lit(1))).as("n_robust_out"))
      .orderBy(col("g"))
  }

  private val qMadSql = {
    val centsExpr = "CAST(FLOOR(o_totalprice * 100) AS BIGINT)"
    val medSql = Quantiles.exactScaledSql("orders", centsExpr, "o_orderpriority", Seq((1, 2)), 1L)
    val devSrc = s"""(SELECT v.g AS g, ABS(v.v - m.med) AS d FROM
       |(SELECT o_orderpriority AS g, $centsExpr AS v FROM orders) v
       |JOIN (SELECT g, q_scaled AS med FROM ($medSql) mq) m ON v.g = m.g) devt""".stripMargin.replace('\n', ' ')
    val madSql = Quantiles.exactScaledSql(devSrc, "d", "g", Seq((1, 2)), 1L)
    s"""WITH med AS MATERIALIZED (SELECT g, q_scaled AS med FROM ($medSql) mq),
       |mad AS MATERIALIZED (SELECT g, q_scaled AS mad FROM ($madSql) dq),
       |v AS (SELECT o_orderpriority AS g, $centsExpr AS v FROM orders)
       |SELECT v.g, med, mad, COUNT(*) AS n,
       |COUNT(*) FILTER (WHERE ABS(v - med) > mad * 3) AS n_robust_out
       |FROM v JOIN med ON v.g = med.g JOIN mad ON v.g = mad.g
       |GROUP BY 1, 2, 3 ORDER BY v.g""".stripMargin.replace('\n', ' ')
  }

  /** RFM customer segmentation: recency (days since last order),
    * frequency (order count), monetary (cents) quintiled independently
    * over UNIQUE orders (metric, custkey) — ntile ties are therefore a
    * pure function of the data — then rolled up to the 5×5×5 segment
    * grid. Each quintile runs on [[graft.operators.DistributedRank]]
    * (range-partitioned offset rank + arithmetic NTILE — a per-customer
    * frame is data-sized at warehouse scale, so no zero-partitionBy
    * window), the three bucketings re-joined on the unique custkey. */
  private def qRfm(t: Tables): DataFrame = {
    val day = expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").cast("long")
    val per = t.orders.groupBy(col("o_custkey"))
      .agg(max(day).as("last_day"), count(lit(1)).as("f"),
        e2(sum(col("o_totalprice"))).as("m"))
    val maxDay = per.agg(max(col("last_day")).as("max_day"))
    val scored = per.crossJoin(broadcast(maxDay))
      .withColumn("recency", col("max_day") - col("last_day"))
      .localCheckpoint() // three quintile passes read the same frame once
    def quint(order: Seq[org.apache.spark.sql.Column], out: String) =
      DistributedRank.withNtile(scored, order, 5, out)
        .select(col("o_custkey"), col(out))
    scored.select(col("o_custkey"), col("m"))
      .join(quint(Seq(col("recency").asc, col("o_custkey")), "r_q"), Seq("o_custkey"))
      .join(quint(Seq(col("f").desc, col("o_custkey")), "f_q"), Seq("o_custkey"))
      .join(quint(Seq(col("m").desc, col("o_custkey")), "m_q"), Seq("o_custkey"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"), sum(col("m")).cast("long").as("m_sum_e2"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  private val qRfmSql =
    """WITH per AS MATERIALIZED (SELECT o_custkey,
      |MAX(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)) AS last_day,
      |COUNT(*) AS f, CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS m
      |FROM orders GROUP BY 1),
      |mx AS (SELECT MAX(last_day) AS max_day FROM per),
      |sc AS (SELECT o_custkey, m, max_day - last_day AS recency, f FROM per CROSS JOIN mx),
      |q AS (SELECT o_custkey, m,
      |CAST(NTILE(5) OVER (ORDER BY recency ASC, o_custkey) AS BIGINT) AS r_q,
      |CAST(NTILE(5) OVER (ORDER BY f DESC, o_custkey) AS BIGINT) AS f_q,
      |CAST(NTILE(5) OVER (ORDER BY m DESC, o_custkey) AS BIGINT) AS m_q FROM sc)
      |SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
      |CAST(SUM(m) AS BIGINT) AS m_sum_e2
      |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace('\n', ' ')

  /** First-order Markov transition matrix over per-user event streams:
    * consecutive event-type pairs (ordered by micro-truncated ts then
    * event_id — micros because DuckDB surfaces timestamp[ns] at micro
    * precision, the documented trap) counted and row-normalized to
    * exact e6 probabilities. One window pass + two aggs; the matrix is
    * |types|² rows regardless of input size. */
  private def qMarkov(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val pairs = t.events
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("ts_us"))
      .select(col("event_type").as("src"), lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val c = pairs.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("src")).agg(sum(col("n")).cast("long").as("n_src"))
    c.join(broadcast(tot), Seq("src"))
      .select(col("src"), col("dst"), col("n"),
        expr("(n * 1000000) div n_src").as("p_e6"))
      .orderBy(col("src"), col("dst"))
  }

  private val qMarkovSql =
    """WITH p AS MATERIALIZED (SELECT event_type AS src,
      |LEAD(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS dst
      |FROM events),
      |c AS MATERIALIZED (SELECT src, dst, COUNT(*) AS n FROM p WHERE dst IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_src FROM c GROUP BY 1)
      |SELECT c.src, c.dst, n, CAST((n * 1000000) // n_src AS BIGINT) AS p_e6
      |FROM c JOIN t ON c.src = t.src ORDER BY c.src, c.dst""".stripMargin.replace('\n', ' ')

  /** Month-over-month revenue growth: monthly rollup + LAG + exact e6
    * growth ratio. Both engines truncate integral division toward zero
    * (verified for negative deltas: −7 div 2 = −7 // 2 = −3), so
    * negative growth months hash-match too; the first month's growth is
    * NULL in both. One agg + one ordered window over the ~80-row
    * monthly frame. */
  private def qMomGrowth(t: Tables): DataFrame = {
    val m = t.orders
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long").as("ym"))
      .agg(e2(sum(col("o_totalprice"))).as("rev"))
    val w = Window.orderBy(col("ym"))
    m.select(col("ym"), col("rev"), lag(col("rev"), 1).over(w).as("prev"))
      .select(col("ym"), col("rev"),
        expr("((rev - prev) * 1000000) div prev").as("growth_e6"))
      .orderBy(col("ym"))
  }

  private val qMomGrowthSql =
    """WITH m AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) AS ym,
      |CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS rev FROM orders GROUP BY 1),
      |l AS (SELECT ym, rev, LAG(rev) OVER (ORDER BY ym) AS prev FROM m)
      |SELECT ym, rev, CAST(((rev - prev) * 1000000) // prev AS BIGINT) AS growth_e6
      |FROM l ORDER BY ym""".stripMargin.replace('\n', ' ')

  /** Gini coefficient of customer revenue — the inequality metric for
    * both CRM concentration and token-frequency skew reports. Standard
    * sorted formula G = (2Σi·x_i − (n+1)Σx_i)/(nΣx_i) over a UNIQUE
    * (x, custkey) order (Σi·x_i is tie-order-invariant among equal x,
    * so the rank is a pure function of the multiset). The numerator
    * ×10⁶ exceeds BIGINT at warehouse scale, so the one division runs
    * on DECIMAL(38,0)/HUGEINT — exact on both engines (the kmv
    * precedent). The global rank i comes from
    * [[graft.operators.DistributedRank]] (range-partitioned offset
    * rank), then one agg. */
  private def qGini(t: Tables): DataFrame = {
    val rev = t.orders.groupBy(col("o_custkey"))
      .agg(e2(sum(col("o_totalprice"))).as("x"))
    DistributedRank.withRowNumber(rev,
        Seq(col("x"), col("o_custkey")), "i")
      .agg(count(lit(1)).as("n"), sum(col("x")).cast("long").as("sx"),
        sum(col("i") * col("x")).cast("long").as("sxi"))
      .select(col("n"), col("sx"),
        expr("CAST(CAST(2 * sxi - (n + 1) * sx AS DECIMAL(38,0)) * 1000000 div " +
          "(CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT)").as("gini_e6"))
  }

  private val qGiniSql =
    """WITH rev AS (SELECT o_custkey, CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS x
      |FROM orders GROUP BY 1),
      |rk AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i FROM rev),
      |a AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |CAST(SUM(i * x) AS BIGINT) AS sxi FROM rk)
      |SELECT n, sx, CAST((CAST(2 * sxi - (n + 1) * sx AS HUGEINT) * 1000000)
      |// (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_e6 FROM a""".stripMargin.replace('\n', ' ')

  /** Pearson χ² independence statistic for segment × order-priority —
    * the categorical feature-relevance test. Per cell the exact
    * rational ((O·N − r·c)²·10⁴) div (N·r·c) (≡ (O−E)²/E with E =
    * r·c/N, cleared of fractions); the square exceeds BIGINT at
    * warehouse scale → DECIMAL(38,0)/HUGEINT per the kmv precedent.
    * Output: the 15 cells with their contribution and the χ² total
    * (window sum — identical per row). Three aggs + broadcast joins of
    * the marginal frames. */
  private def qChi2(t: Tables): DataFrame = {
    val lab = t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
    val cells = lab.groupBy(col("seg"), col("pri")).agg(count(lit(1)).as("obs"))
    val rTot = lab.groupBy(col("seg")).agg(count(lit(1)).as("rt"))
    val cTot = lab.groupBy(col("pri")).agg(count(lit(1)).as("ct"))
    val nTot = lab.agg(count(lit(1)).as("nt"))
    cells.join(broadcast(rTot), Seq("seg")).join(broadcast(cTot), Seq("pri"))
      .crossJoin(broadcast(nTot))
      .select(col("seg"), col("pri"), col("obs"),
        expr("CAST(CAST(obs * nt - rt * ct AS DECIMAL(38,0)) * (obs * nt - rt * ct) * 10000 div " +
          "(CAST(nt AS DECIMAL(38,0)) * rt * ct) AS BIGINT)").as("term_e4"))
      .withColumn("chi2_e4", sum(col("term_e4"))
        .over(Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .orderBy(col("seg"), col("pri"))
  }

  private val qChi2Sql =
    """WITH lab AS MATERIALIZED (SELECT c_mktsegment AS seg, o_orderpriority AS pri
      |FROM orders JOIN customer ON o_custkey = c_custkey),
      |cells AS (SELECT seg, pri, COUNT(*) AS obs FROM lab GROUP BY 1, 2),
      |r AS (SELECT seg, COUNT(*) AS rt FROM lab GROUP BY 1),
      |c AS (SELECT pri, COUNT(*) AS ct FROM lab GROUP BY 1),
      |n AS (SELECT COUNT(*) AS nt FROM lab),
      |t AS (SELECT seg, pri, obs,
      |CAST(CAST(obs * nt - rt * ct AS HUGEINT) * (obs * nt - rt * ct) * 10000
      |// (CAST(nt AS HUGEINT) * rt * ct) AS BIGINT) AS term_e4
      |FROM cells JOIN r USING (seg) JOIN c USING (pri) CROSS JOIN n)
      |SELECT seg, pri, obs, term_e4,
      |CAST(SUM(term_e4) OVER () AS BIGINT) AS chi2_e4
      |FROM t ORDER BY seg, pri""".stripMargin.replace('\n', ' ')

  /** Concentration/diversity metrics per nation over customer segments:
    * Herfindahl index Σ(cᵢ/n)² and Gini impurity 1 − Σ(cᵢ/n)² — the
    * log-free diversity pair (Shannon entropy would drag cross-engine
    * ln() ulp drift into the hash; these are exact rationals:
    * Σcᵢ²·10⁶ div n² and (n² − Σcᵢ²)·10⁶ div n², floored
    * INDEPENDENTLY, so the two columns need not sum to 10⁶). Two
    * map-side-combined aggs. */
  private def qDiversity(t: Tables): DataFrame =
    t.customer
      .groupBy(col("c_nationkey").cast("long").as("nation"), col("c_mktsegment"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("nation"))
      .agg(sum(col("c")).cast("long").as("n"),
        sum(col("c") * col("c")).cast("long").as("s2"))
      .select(col("nation"), col("n"),
        expr("(s2 * 1000000) div (n * n)").as("hhi_e6"),
        expr("((n * n - s2) * 1000000) div (n * n)").as("impurity_e6"))
      .orderBy(col("nation"))

  private val qDiversitySql =
    """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment,
      |COUNT(*) AS c FROM customer GROUP BY 1, 2),
      |a AS (SELECT nation, CAST(SUM(c) AS BIGINT) AS n,
      |CAST(SUM(c * c) AS BIGINT) AS s2 FROM c GROUP BY 1)
      |SELECT nation, n, CAST((s2 * 1000000) // (n * n) AS BIGINT) AS hhi_e6,
      |CAST(((n * n - s2) * 1000000) // (n * n) AS BIGINT) AS impurity_e6
      |FROM a ORDER BY nation""".stripMargin.replace('\n', ' ')

  /** Quantity-weighted median price per return flag
    * ([[graft.operators.Quantiles.weightedMedian]]): smallest price
    * whose running quantity reaches half the total — 2·cumw ≥ W in
    * exact integers. */
  private def qWeightedMedian(t: Tables): DataFrame =
    Quantiles.weightedMedian(
      t.lineitem.select(col("l_returnflag").as("g"),
        e2(col("l_extendedprice")).as("price"),
        floor(col("l_quantity")).cast("long").as("qty")),
      "price", "qty", "g")

  private val qWeightedMedianSql = Quantiles.weightedMedianSql(
    "lineitem", "CAST(FLOOR(l_extendedprice * 100) AS BIGINT)",
    "CAST(FLOOR(l_quantity) AS BIGINT)", "l_returnflag")

  /** Top-3 parts per brand by revenue — the per-group top-k retrieval
    * every catalog/dashboard runs (rank window over the part aggregate,
    * unique (rev desc, partkey) order; the window partitions by brand,
    * so no global sort). */
  private def qGroupedTopK(t: Tables): DataFrame = {
    val rev = t.lineitem.join(t.part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(e2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("rev_e2"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("rev_e2").desc, col("p_partkey"))
    rev.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy(col("p_brand"), col("rk"))
  }

  private val qGroupedTopKSql =
    """WITH rev AS (SELECT p_brand, p_partkey,
      |CAST(FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS rev_e2
      |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
      |rk AS (SELECT p_brand, p_partkey, rev_e2,
      |CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY rev_e2 DESC, p_partkey) AS BIGINT) AS rk
      |FROM rev)
      |SELECT p_brand, p_partkey, rev_e2, rk FROM rk WHERE rk <= 3
      |ORDER BY p_brand, rk""".stripMargin.replace('\n', ' ')

  /** HLL set algebra — the MERGEABILITY that makes the sketch useful:
    * registers for ordering customers (A) and all customers (B) are
    * bucket-wise max-merged into A∪B, and |A∩B| is estimated by
    * inclusion-exclusion est(A) + est(B) − est(A∪B), all in the exact
    * integer arithmetic of [[graft.functions.Sketches]]. The exact
    * intersection rides along (honesty contract). Register merge is the
    * distributed-rollup primitive: per-day sketches union into
    * per-month without rescanning — this query is that merge in
    * miniature. */
  private def qHllAlgebra(t: Tables): DataFrame = {
    import graft.functions.Sketches
    val a = t.orders.select(lit("A").as("side"), col("o_custkey").as("k"))
    val b = t.customer.select(lit("B").as("side"), col("c_custkey").as("k"))
    val regs = a.unionByName(b)
      .select(col("side"), Sketches.hllBucket(col("k")).as("b"),
        Sketches.hllRho(col("k")).as("rho"))
      .groupBy(col("side"), col("b")).agg(max(col("rho")).as("r"))
    val union = regs.groupBy(col("b")).agg(max(col("r")).as("r"))
      .withColumn("side", lit("U"))
    val ests = Sketches.hllFinalize(regs.unionByName(union.select(col("side"), col("b"), col("r"))), "side")
      .groupBy().pivot("g", Seq("A", "B", "U")).agg(first(col("hll_est_e2")))
    val exact = t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
      .agg(countDistinct(col("o_custkey")).as("n_exact_intersect"))
    ests.crossJoin(broadcast(exact))
      .select(col("A").as("est_a_e2"), col("B").as("est_b_e2"),
        col("U").as("est_union_e2"),
        (col("A") + col("B") - col("U")).as("est_intersect_e2"),
        col("n_exact_intersect"))
  }

  private val qHllAlgebraSql = {
    val num = 709L * 64L * 64L * (1L << 27) * 100L
    s"""WITH k AS MATERIALIZED (
       |SELECT 'A' AS side, CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM orders
       |UNION ALL
       |SELECT 'B', CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) FROM customer),
       |r0 AS MATERIALIZED (SELECT side, h % 64 AS b,
       |MAX(CASE WHEN h // 64 = 0 THEN 27 ELSE 27 - length(bin(h // 64)) END) AS r
       |FROM k GROUP BY 1, 2),
       |ru AS (SELECT 'U' AS side, b, MAX(r) AS r FROM r0 GROUP BY 2),
       |regs AS (SELECT * FROM r0 UNION ALL SELECT * FROM ru),
       |z AS (SELECT side, COUNT(*) AS n_hit,
       |CAST(SUM(CAST(1 AS BIGINT) << CAST(27 - r AS INT)) AS BIGINT)
       |+ (64 - COUNT(*)) * 134217728 AS z_scaled FROM regs GROUP BY 1),
       |e AS (SELECT side, CAST($num // (1000 * z_scaled) AS BIGINT) AS est FROM z),
       |x AS (SELECT COUNT(DISTINCT o_custkey) AS n_exact_intersect
       |FROM orders JOIN customer ON o_custkey = c_custkey)
       |SELECT
       |(SELECT est FROM e WHERE side = 'A') AS est_a_e2,
       |(SELECT est FROM e WHERE side = 'B') AS est_b_e2,
       |(SELECT est FROM e WHERE side = 'U') AS est_union_e2,
       |(SELECT est FROM e WHERE side = 'A') + (SELECT est FROM e WHERE side = 'B')
       |- (SELECT est FROM e WHERE side = 'U') AS est_intersect_e2,
       |n_exact_intersect FROM x""".stripMargin.replace('\n', ' ')
  }

  /** Lag-1 autocorrelation of daily order revenue — the "is today like
    * yesterday" time-series diagnostic. Pearson r over (x_t, x_{t+1})
    * pairs from one LEAD window; all six sums are exact BIGINTs and the
    * final ÷+√ runs on identical operands in both engines (the
    * assortativity discipline), floored at e6. */
  private def qAutocorr(t: Tables): DataFrame = {
    val daily = t.orders
      .groupBy(expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").cast("long").as("d"))
      .agg(e2(sum(col("o_totalprice"))).as("x"))
    val pairs = daily
      .select(col("x"), lead(col("x"), 1).over(Window.orderBy(col("d"))).as("y"))
      .filter(col("y").isNotNull)
    // product sums exceed BIGINT (Σx² ~ 10¹⁹ already at sf0.01) →
    // DECIMAL(38,0) on the Spark side, HUGEINT in the oracle
    pairs.agg(count(lit(1)).as("m"),
        sum(col("x")).cast("long").as("sx"), sum(col("y")).cast("long").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(col("m"),
        e6(expr("CAST(m * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)") /
          sqrt(expr("CAST(m * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)") *
            expr("CAST(m * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)"))).as("r_e6"))
  }

  private val qAutocorrSql =
    """WITH daily AS (SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
      |CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS x FROM orders GROUP BY 1),
      |p AS (SELECT x, LEAD(x) OVER (ORDER BY d) AS y FROM daily),
      |st AS (SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
      |SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      |FROM p WHERE y IS NOT NULL)
      |SELECT m, CAST(FLOOR((CAST(m * sxy - sx * sy AS DOUBLE)
      |/ sqrt(CAST(m * sxx - sx * sx AS DOUBLE) * CAST(m * syy - sy * sy AS DOUBLE)))
      |* 1000000) AS BIGINT) AS r_e6 FROM st""".stripMargin.replace('\n', ' ')

  /** Anomalous revenue days by the 2σ rule with ZERO doubles: the test
    * |x − μ| > 2σ is cleared of fractions to (x·n − S)² > 4(nΣx² − S²)
    * — both sides exact (the square rides DECIMAL(38)/HUGEINT, the kmv
    * precedent), so day-level anomaly flags are structurally
    * hash-stable, no epsilon at the boundary. One daily rollup + one
    * broadcast scalar join. */
  private def qAnomalyDays(t: Tables): DataFrame = {
    val daily = t.orders
      .groupBy(expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").cast("long").as("d"))
      .agg(e2(sum(col("o_totalprice"))).as("x"))
    val st = daily.agg(count(lit(1)).as("n"), sum(col("x")).cast("long").as("sxs"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
    daily.crossJoin(broadcast(st))
      .filter(expr("CAST(x * n - sxs AS DECIMAL(38,0)) * (x * n - sxs) > " +
        "4 * (n * sxx - CAST(sxs AS DECIMAL(38,0)) * sxs)"))
      .select(col("d"), col("x"), col("n"))
      .orderBy(col("d"))
  }

  private val qAnomalyDaysSql =
    """WITH daily AS (SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
      |CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS x FROM orders GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n, SUM(x) AS sxs, SUM(x * x) AS sxx FROM daily)
      |SELECT d, x, CAST(n AS BIGINT) AS n FROM daily CROSS JOIN st
      |WHERE CAST(x * n - sxs AS HUGEINT) * (x * n - sxs) > 4 * (n * sxx - sxs * sxs)
      |ORDER BY d""".stripMargin.replace('\n', ' ')

  /** Time-to-convert: for each user, the gap from first view to the
    * first purchase AT OR AFTER it, summarized as exact quantiles of
    * whole seconds ([[graft.operators.Quantiles.exactScaledGlobal]] —
    * the single-group quantile is a GLOBAL order statistic, so the rank
    * pass rides DistributedRank instead of a constant-group window that
    * Catalyst folds into a single-partition sort). Two per-user
    * min-aggs + one distributed rank pass; micro-truncated timestamps
    * per the ns-vs-us trap. */
  private def qTimeToConvert(t: Tables): DataFrame = {
    val firstView = t.events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_us"))
    val purch = t.events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_us"))
    val deltas = firstView.join(purch, Seq("user_id"))
      .filter(col("p_us") >= col("v_us"))
      .groupBy(col("user_id"), col("v_us")).agg(min(col("p_us")).as("p_us"))
      .select(expr("(p_us - v_us) div 1000000").as("gap_s"))
    Quantiles.exactScaledGlobal(deltas, "gap_s", "all",
      Seq((1, 4), (1, 2), (3, 4)), 1L)
  }

  private val qTimeToConvertSql = {
    val src = """(SELECT 'all' AS g, (p_us - v_us) // 1000000 AS gap_s FROM (
      |SELECT fv.user_id, v_us, MIN(epoch_us(e.ts)) AS p_us
      |FROM (SELECT user_id, MIN(epoch_us(ts)) AS v_us FROM events
      |WHERE event_type = 'view' GROUP BY 1) fv
      |JOIN events e ON e.user_id = fv.user_id AND e.event_type = 'purchase'
      |AND epoch_us(e.ts) >= v_us GROUP BY 1, 2) d) ttc""".stripMargin.replace('\n', ' ')
    Quantiles.exactScaledSql(src, "gap_s", "g", Seq((1, 4), (1, 2), (3, 4)), 1L)
  }

  /** DAU / MAU engagement: per calendar month, the mean daily active
    * users over the days the month actually has data, the month's
    * distinct actives, and the stickiness ratio Σdau·10⁶ div
    * (n_days·mau) — the standard product-engagement report. Two
    * distinct-count aggs + one join; the at-scale swap for the exact
    * distincts is [[graft.functions.Sketches.hllDistinct]] (documented,
    * same plan shape). */
  private def qActiveUsers(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"),
      expr("ts div 86400000000").as("day"),
      expr("ts div 86400000000 div 30").as("mon"))
    val dau = ev.groupBy(col("mon"), col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val mau = ev.groupBy(col("mon")).agg(countDistinct(col("user_id")).as("mau"))
    dau.groupBy(col("mon"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).cast("long").as("sum_dau"))
      .join(mau, Seq("mon"))
      .select(col("mon"), col("n_days"), col("sum_dau"), col("mau"),
        expr("(sum_dau * 1000000) div (n_days * mau)").as("stickiness_e6"))
      .orderBy(col("mon"))
  }

  private val qActiveUsersSql =
    """WITH ev AS MATERIALIZED (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |epoch_us(ts) // 86400000000 // 30 AS mon FROM events),
      |dau AS (SELECT mon, day, COUNT(DISTINCT user_id) AS dau FROM ev GROUP BY 1, 2),
      |mau AS (SELECT mon, COUNT(DISTINCT user_id) AS mau FROM ev GROUP BY 1),
      |d AS (SELECT mon, COUNT(*) AS n_days, CAST(SUM(dau) AS BIGINT) AS sum_dau
      |FROM dau GROUP BY 1)
      |SELECT d.mon, n_days, sum_dau, mau,
      |CAST((sum_dau * 1000000) // (n_days * mau) AS BIGINT) AS stickiness_e6
      |FROM d JOIN mau ON d.mon = mau.mon ORDER BY d.mon""".stripMargin.replace('\n', ' ')

  /** Deterministic train/val/test split audit: md5(doc_id) mod 100
    * buckets 80/10/10, reported with per-split doc and token counts AND
    * the pairwise overlap count (structurally zero — the audit row a
    * pipeline must PROVE, not assume; same md5-uniform machinery as the
    * stratified sampler so re-runs and engines agree). */
  private def qSplit3Way(t: Tables): DataFrame = {
    val u = pmod(graft.pipeline.Corpus.md5Uniform(col("doc_id").cast("string")), lit(100L))
    val tagged = t.documents.select(col("doc_id"), col("n_chars"),
      when(u < 80, lit("train")).when(u < 90, lit("val")).otherwise(lit("test")).as("split"))
    val per = tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("n_chars"))
    val overlap = tagged.as("a").join(tagged.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.split") =!= col("b.split"))
      .agg(count(lit(1)).as("n_overlap"))
    per.crossJoin(broadcast(overlap)).orderBy(col("split"))
  }

  private val qSplit3WaySql = {
    val u = OracleGen.hex6("md5(CAST(doc_id AS VARCHAR))") + " % 100"
    s"""WITH tg AS MATERIALIZED (SELECT doc_id, n_chars,
       |CASE WHEN $u < 80 THEN 'train' WHEN $u < 90 THEN 'val' ELSE 'test' END AS split
       |FROM documents),
       |per AS (SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
       |FROM tg GROUP BY 1),
       |ov AS (SELECT COUNT(*) AS n_overlap FROM tg a JOIN tg b
       |ON a.doc_id = b.doc_id AND a.split <> b.split)
       |SELECT split, n_docs, n_chars, n_overlap FROM per CROSS JOIN ov
       |ORDER BY split""".stripMargin.replace('\n', ' ')
  }

  /** Cumulative distinct users per day WITHOUT a running-distinct state:
    * each user collapses to their first-seen day, and the growth curve
    * is the running sum of first-occurrence counts — the exact identity
    * that makes "users to date" a one-window query instead of an
    * ever-growing distinct set (the at-scale trick; state is one row
    * per user, then one row per day). */
  private def qCumulativeUsers(t: Tables): DataFrame = {
    val firstDay = t.events.groupBy(col("user_id"))
      .agg(min(expr("ts div 86400000000")).as("day"))
    firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      .withColumn("users_to_date",
        sum(col("new_users")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .orderBy(col("day"))
  }

  private val qCumulativeUsersSql =
    """WITH f AS (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS day
      |FROM events GROUP BY 1),
      |d AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY 1)
      |SELECT day, new_users, CAST(SUM(new_users) OVER (ORDER BY day
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS users_to_date
      |FROM d ORDER BY day""".stripMargin.replace('\n', ' ')

  /** Day-over-day churn: users active on day d split by whether they
    * return on d+1 — retained/churned counts and the exact e6 churn
    * rate per day (the cohort table's operational companion; 29
    * transitions over this corpus' 30-day span). One distinct
    * (user, day) frame, one self-join on (user, d+1). */
  private def qChurn(t: Tables): DataFrame = {
    val um = t.events
      .select(col("user_id"), expr("ts div 86400000000").as("mon"))
      .distinct()
    val last = um.agg(max(col("mon")).as("last_mon"))
    um.as("a").crossJoin(broadcast(last))
      .filter(col("a.mon") < col("last_mon"))
      .join(um.as("b"),
        col("a.user_id") === col("b.user_id") && col("b.mon") === col("a.mon") + 1,
        "left_outer")
      .groupBy(col("a.mon").as("mon"))
      .agg(count(lit(1)).as("n_active"),
        count(col("b.user_id")).as("n_retained"))
      .select(col("mon"), col("n_active"), col("n_retained"),
        expr("((n_active - n_retained) * 1000000) div n_active").as("churn_e6"))
      .orderBy(col("mon"))
  }

  private val qChurnSql =
    """WITH um AS MATERIALIZED (SELECT DISTINCT user_id,
      |epoch_us(ts) // 86400000000 AS mon FROM events),
      |mx AS (SELECT MAX(mon) AS last_mon FROM um)
      |SELECT a.mon, COUNT(*) AS n_active, COUNT(b.user_id) AS n_retained,
      |CAST(((COUNT(*) - COUNT(b.user_id)) * 1000000) // COUNT(*) AS BIGINT) AS churn_e6
      |FROM um a CROSS JOIN mx
      |LEFT JOIN um b ON a.user_id = b.user_id AND b.mon = a.mon + 1
      |WHERE a.mon < last_mon
      |GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' ')

  /** Join-key skew profile for the order→customer key: top-10 heaviest
    * keys with exact e6 row shares plus the max/mean skew ratio — the
    * diagnostic a planner (or the salting pass, q_skew_salted) consumes
    * BEFORE choosing a mitigation. One count agg + one tiny top-k sort;
    * the ratio is (max·n_keys·10⁶) div total, all BIGINTs. */
  private def qSkewProfile(t: Tables): DataFrame = {
    val c = t.orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val st = c.agg(count(lit(1)).as("n_keys"), sum(col("n")).cast("long").as("total"),
      max(col("n")).as("mx"))
    c.crossJoin(broadcast(st))
      .select(col("o_custkey"), col("n"),
        expr("(n * 1000000) div total").as("share_e6"),
        expr("(mx * n_keys * 1000000) div total").as("skew_ratio_e6"))
      .orderBy(col("n").desc, col("o_custkey"))
      .limit(10)
  }

  private val qSkewProfileSql =
    """WITH c AS MATERIALIZED (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS total, MAX(n) AS mx FROM c)
      |SELECT o_custkey, n, CAST((n * 1000000) // total AS BIGINT) AS share_e6,
      |CAST((mx * n_keys * 1000000) // total AS BIGINT) AS skew_ratio_e6
      |FROM c CROSS JOIN st ORDER BY n DESC, o_custkey LIMIT 10""".stripMargin.replace('\n', ' ')

  /** Readability signals per document: words, sentence-break runs,
    * vowel-group (syllable-proxy) count, and the two exact e6 ratios
    * (words per break, vowel groups per word) that parameterize every
    * Flesch-style score — the constants' double arithmetic is left to
    * the consumer, so the signals stay hash-exact. Pure codegen'd
    * regexp columns, one projection. */
  private def qReadability(t: Tables): DataFrame =
    t.documents.select(col("doc_id"),
        expr("size(split(trim(text), '\\\\s+'))").cast("long").as("n_words"),
        expr("size(regexp_extract_all(text, '[.!?]+', 0))").cast("long").as("n_breaks"),
        expr("size(regexp_extract_all(lower(text), '[aeiou]+', 0))").cast("long").as("n_vgroups"))
      .select(col("doc_id"), col("n_words"), col("n_breaks"), col("n_vgroups"),
        expr("(n_words * 1000000) div greatest(n_breaks, 1)").as("words_per_sent_e6"),
        expr("(n_vgroups * 1000000) div greatest(n_words, 1)").as("vgroups_per_word_e6"))
      .orderBy(col("doc_id"))

  private val qReadabilitySql =
    """WITH b AS (SELECT doc_id,
      |CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
      |CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_breaks,
      |CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_vgroups
      |FROM documents)
      |SELECT doc_id, n_words, n_breaks, n_vgroups,
      |CAST((n_words * 1000000) // greatest(n_breaks, 1) AS BIGINT) AS words_per_sent_e6,
      |CAST((n_vgroups * 1000000) // greatest(n_words, 1) AS BIGINT) AS vgroups_per_word_e6
      |FROM b ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  /** Burst (rate-limit) detection: per user, the max event count in
    * any TRAILING 24h value window — a RANGE frame (the one frame type
    * the corpus hadn't showcased: the window is defined by the
    * timestamp VALUE span, so same-microsecond ties land in the same
    * frame and the count is tie-order-proof by construction, unlike a
    * ROWS spelling). Users with a burst ≥ 8 reported with their peak. */
  private def qRateLimit(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-86400000000L, 0L)
    t.events.select(col("user_id"), col("ts").as("t"))
      .withColumn("burst", count(lit(1)).over(w))
      .groupBy(col("user_id")).agg(max(col("burst")).as("max_burst"))
      .filter(col("max_burst") >= 8)
      .orderBy(col("user_id"))
  }

  private val qRateLimitSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
      |b AS (SELECT user_id, COUNT(*) OVER (PARTITION BY user_id ORDER BY t
      |RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS burst FROM e)
      |SELECT user_id, CAST(MAX(burst) AS BIGINT) AS max_burst FROM b
      |GROUP BY 1 HAVING MAX(burst) >= 8 ORDER BY user_id""".stripMargin.replace('\n', ' ')

  /** Pairwise Pearson correlation matrix over the three lineitem
    * measures (quantity, price, discount), each pre-scaled to exact
    * integers — all product sums on DECIMAL(38)/HUGEINT (the
    * autocorr discipline), one ÷+√ per pair on identical operands.
    * ONE aggregation computes all nine sums; the 3×3 upper triangle
    * unpivots from a single row. */
  private def qCorrMatrix(t: Tables): DataFrame = {
    val m = t.lineitem.select(
      floor(col("l_quantity")).cast("long").as("a"),
      e2(col("l_extendedprice")).as("b"),
      e2(col("l_discount")).as("c"))
    def d38(x: String, y: String) = sum(expr(s"CAST($x AS DECIMAL(38,0)) * $y"))
    val st = m.agg(count(lit(1)).as("n"),
      sum(col("a")).cast("long").as("sa"), sum(col("b")).cast("long").as("sb"),
      sum(col("c")).cast("long").as("sc"),
      d38("a", "a").as("saa"), d38("b", "b").as("sbb"), d38("c", "c").as("scc"),
      d38("a", "b").as("sab"), d38("a", "c").as("sac"), d38("b", "c").as("sbc"))
    def rExpr(sxy: String, sx: String, sy: String, sxx: String, syy: String) =
      e6(expr(s"CAST(n * $sxy - CAST($sx AS DECIMAL(38,0)) * $sy AS DOUBLE)") /
        sqrt(expr(s"CAST(n * $sxx - CAST($sx AS DECIMAL(38,0)) * $sx AS DOUBLE)") *
          expr(s"CAST(n * $syy - CAST($sy AS DECIMAL(38,0)) * $sy AS DOUBLE)")))
    st.select(col("n"),
        rExpr("sab", "sa", "sb", "saa", "sbb").as("qty_price"),
        rExpr("sac", "sa", "sc", "saa", "scc").as("qty_disc"),
        rExpr("sbc", "sb", "sc", "sbb", "scc").as("price_disc"))
      .selectExpr("n",
        "stack(3, 'qty_price', qty_price, 'qty_disc', qty_disc, " +
          "'price_disc', price_disc) as (pair, r_e6)")
      .orderBy(col("pair"))
  }

  private val qCorrMatrixSql = {
    def rSql(sxy: String, sx: String, sy: String, sxx: String, syy: String) =
      s"""CAST(FLOOR((CAST(n * $sxy - $sx * $sy AS DOUBLE)
         |/ sqrt(CAST(n * $sxx - $sx * $sx AS DOUBLE) * CAST(n * $syy - $sy * $sy AS DOUBLE)))
         |* 1000000) AS BIGINT)""".stripMargin.replace('\n', ' ')
    s"""WITH m AS (SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS a,
       |CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS b,
       |CAST(FLOOR(l_discount * 100) AS BIGINT) AS c FROM lineitem),
       |st AS (SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc,
       |SUM(a * a) AS saa, SUM(b * b) AS sbb, SUM(c * c) AS scc,
       |SUM(a * b) AS sab, SUM(a * c) AS sac, SUM(b * c) AS sbc FROM m),
       |r AS (SELECT n, ${rSql("sab", "sa", "sb", "saa", "sbb")} AS qty_price,
       |${rSql("sac", "sa", "sc", "saa", "scc")} AS qty_disc,
       |${rSql("sbc", "sb", "sc", "sbb", "scc")} AS price_disc FROM st)
       |SELECT n, pair, r_e6 FROM (
       |SELECT n, 'qty_price' AS pair, qty_price AS r_e6 FROM r
       |UNION ALL SELECT n, 'qty_disc', qty_disc FROM r
       |UNION ALL SELECT n, 'price_disc', price_disc FROM r) u
       |ORDER BY pair""".stripMargin.replace('\n', ' ')
  }

  /** Simple OLS regression of quantity on discount (the elasticity
    * probe): slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) and intercept =
    * (Σy − slope·Σx)/n, both as one divide on exact
    * DECIMAL(38)/HUGEINT sums (the autocorr discipline) floored at e6
    * — plus r² from the same six sums. ONE aggregation, one row out:
    * distributed linear regression without a single intermediate
    * materialization. */
  private def qRegression(t: Tables): DataFrame = {
    val m = t.lineitem.select(e2(col("l_discount")).as("x"),
      floor(col("l_quantity")).cast("long").as("y"))
    val st = m.agg(count(lit(1)).as("n"),
      sum(col("x")).cast("long").as("sx"), sum(col("y")).cast("long").as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
    st.select(col("n"),
      e6(expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)") /
        expr("CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)")).as("slope_e6"),
      e6((expr("CAST(sy AS DOUBLE)") -
        (expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)") /
          expr("CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)")) *
          expr("CAST(sx AS DOUBLE)")) / expr("CAST(n AS DOUBLE)")).as("intercept_e6"),
      e6(expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)") *
        expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)") /
        (expr("CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)") *
          expr("CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)"))).as("r2_e6"))
  }

  private val qRegressionSql =
    """WITH m AS (SELECT CAST(FLOOR(l_discount * 100) AS BIGINT) AS x,
      |CAST(FLOOR(l_quantity) AS BIGINT) AS y FROM lineitem),
      |st AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy FROM m)
      |SELECT n,
      |CAST(FLOOR((CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000) AS BIGINT) AS slope_e6,
      |CAST(FLOOR(((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS intercept_e6,
      |CAST(FLOOR((CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
      |/ (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000) AS BIGINT) AS r2_e6
      |FROM st""".stripMargin.replace('\n', ' ')

  /** Day-of-week seasonality: revenue share and the seasonal index
    * (day mean ÷ overall mean) per weekday, both exact rationals —
    * index_e6 = (s_d·n)·10⁶ div (n_d·s) needs no mean materialized.
    * One rollup + one broadcast scalar. */
  private def qSeasonal(t: Tables): DataFrame = {
    val d = t.orders.select(
      pmod(expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"), lit(7)).cast("long").as("dow"),
      e2(col("o_totalprice")).as("v"))
    val per = d.groupBy(col("dow")).agg(count(lit(1)).as("n_d"), sum(col("v")).cast("long").as("s_d"))
    val tot = d.agg(count(lit(1)).as("n"), sum(col("v")).cast("long").as("st"))
    per.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_d"), col("s_d"),
        expr("(s_d * 1000000) div st").as("share_e6"),
        expr("CAST(CAST(s_d AS DECIMAL(38,0)) * n * 1000000 div (CAST(n_d AS DECIMAL(38,0)) * st) AS BIGINT)").as("index_e6"))
      .orderBy(col("dow"))
  }

  private val qSeasonalSql =
    """WITH d AS (SELECT (CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) % 7) AS dow,
      |CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      |p AS (SELECT dow, COUNT(*) AS n_d, CAST(SUM(v) AS BIGINT) AS s_d FROM d GROUP BY 1),
      |t AS (SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS st FROM d)
      |SELECT dow, n_d, s_d, CAST((s_d * 1000000) // st AS BIGINT) AS share_e6,
      |CAST(CAST(s_d AS HUGEINT) * n * 1000000 // (CAST(n_d AS HUGEINT) * st) AS BIGINT) AS index_e6
      |FROM p CROSS JOIN t ORDER BY dow""".stripMargin.replace('\n', ' ')

  /** Inter-arrival latency per event type: consecutive-event gaps (one
    * LAG window over the micro-truncated global order per type) fed to
    * [[graft.operators.Quantiles.exactScaled]] for exact p50/p95 in
    * milliseconds — the arrival-process profile a capacity model needs.
    * Unique (ts_us, event_id) order makes gaps a pure data function. */
  private def qInterarrival(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"), col("event_id"))
    val gaps = t.events
      .select(col("event_type"), col("event_id"), col("ts").as("ts_us"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type").as("g"), expr("(ts_us - prev) div 1000").as("gap_ms"))
    Quantiles.exactScaled(gaps, "gap_ms", "g", Seq((1, 2), (19, 20)), 1L)
  }

  private val qInterarrivalSql = {
    val src = """(SELECT event_type AS g, (t - prev) // 1000 AS gap_ms FROM (
      |SELECT event_type, epoch_us(ts) AS t,
      |LAG(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS prev
      |FROM events) z WHERE prev IS NOT NULL) ia""".stripMargin.replace('\n', ' ')
    Quantiles.exactScaledSql(src, "gap_ms", "g", Seq((1, 2), (19, 20)), 1L)
  }

  /** Ranking-function tour over customer revenue: rank, dense_rank,
    * percent_rank, cume_dist and the gap to the next customer. The
    * order (rev desc, custkey) is UNIQUE, which collapses the whole
    * family onto ONE global row number rn from
    * [[graft.operators.DistributedRank]]: rank = dense_rank = rn,
    * percent_rank = (rn−1)/(N−1) and cume_dist = rn/N (identical
    * double-division operand order as the window builtins, floored at
    * e6), and lead() becomes an equi-join of rn against rn+1 — no
    * zero-partitionBy window anywhere, every step range-partitioned. */
  private def qWindowFuncs(t: Tables): DataFrame = {
    val rev = t.orders.groupBy(col("o_custkey"))
      .agg(e2(sum(col("o_totalprice"))).as("rev_e2"))
    val ranked = DistributedRank.withRowNumber(rev,
      Seq(col("rev_e2").desc, col("o_custkey")), "rn")
    val n = ranked.agg(count(lit(1)).cast("long").as("n"))
    val nxt = ranked.select((col("rn") - 1).as("rn"), col("rev_e2").as("next_rev"))
    ranked.crossJoin(broadcast(n))
      .join(nxt, Seq("rn"), "left")
      .select(col("o_custkey"), col("rev_e2"),
        col("rn").as("rnk"),
        col("rn").as("drnk"),
        e6(when(col("n") > 1, // single-row frame: PERCENT_RANK is 0, not 0/0
            (col("rn") - 1).cast("double") / (col("n") - 1).cast("double"))
          .otherwise(lit(0.0))).as("pct_rank_e6"),
        e6(col("rn").cast("double") / col("n").cast("double"))
          .as("cume_dist_e6"),
        (col("rev_e2") - coalesce(col("next_rev"), lit(0L)))
          .as("gap_to_next_e2"))
      .orderBy(col("rnk"))
  }

  private val qWindowFuncsSql =
    """WITH rev AS (SELECT o_custkey,
      |CAST(FLOOR(SUM(o_totalprice) * 100) AS BIGINT) AS rev_e2
      |FROM orders GROUP BY 1)
      |SELECT o_custkey, rev_e2,
      |CAST(RANK() OVER w AS BIGINT) AS rnk,
      |CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
      |CAST(FLOOR(PERCENT_RANK() OVER w * 1000000) AS BIGINT) AS pct_rank_e6,
      |CAST(FLOOR(CUME_DIST() OVER w * 1000000) AS BIGINT) AS cume_dist_e6,
      |rev_e2 - COALESCE(LEAD(rev_e2) OVER w, 0) AS gap_to_next_e2
      |FROM rev WINDOW w AS (ORDER BY rev_e2 DESC, o_custkey)
      |ORDER BY rnk""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // graph corpus (SURVEY §2.9) on graphs derived from the tables
  // ------------------------------------------------------------------

  private def qDegrees(t: Tables): DataFrame =
    Algos.degrees(TestGraphs.custSupp(t)).orderBy(col("id"))

  private val qDegreesSql =
    s"""WITH ce AS (${TestGraphs.custSuppSql}),
       |o AS (SELECT src AS id, COUNT(*) AS out_deg FROM ce GROUP BY 1),
       |i AS (SELECT dst AS id, COUNT(*) AS in_deg FROM ce GROUP BY 1)
       |SELECT COALESCE(o.id, i.id) AS id, COALESCE(out_deg, 0) AS out_deg,
       |COALESCE(in_deg, 0) AS in_deg
       |FROM o FULL OUTER JOIN i ON o.id = i.id ORDER BY id""".stripMargin.replace('\n', ' ')

  private def qWcc(t: Tables): DataFrame =
    Algos.wcc(TestGraphs.custSuppSym(t).select("src", "dst")).orderBy(col("id"))

  private def qSssp(t: Tables): DataFrame = {
    val e = TestGraphs.custSuppSym(t).select("src", "dst", "w")
    val source = e.agg(min(col("src"))).first().getLong(0)
    Algos.sssp(e, source).orderBy(col("id"))
  }

  private def qBfs(t: Tables): DataFrame = {
    val e = TestGraphs.custSuppSym(t).select("src", "dst")
    val source = e.agg(min(col("src"))).first().getLong(0)
    Algos.bfs(e, Seq(source)).orderBy(col("id"))
  }

  /** Exact sampled-source neighborhood function N(h), h = 0..4 (the
    * distance-distribution panel; [[graft.graph.Algos.anfSketch]] is the
    * sketched scale path, spec-asserted against this). Oracle unrolls
    * the four frontier expansions with distinct pair sets. */
  private def qNeighborhood(t: Tables): DataFrame =
    Algos.neighborhoodFunction(TestGraphs.custSuppSym(t).select("src", "dst"), maxH = 4)

  /** Per-user behavioral entropy: floor-log2 Shannon entropy of each
    * user's event-type distribution (the engagement-diversity signal) —
    * zero-libm bitlength identity, two shuffles. */
  private def qUserEntropy(t: Tables): DataFrame = {
    val tf = t.events
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
    val tot = tf.groupBy(col("user_id")).agg(sum(col("c")).cast("long").as("t"))
    tf.join(tot, Seq("user_id"))
      .select(col("user_id"), col("c"), col("t"),
        ((length(bin(expr("t div c"))) - 1).cast("long") * col("c")).as("cb"))
      .groupBy(col("user_id"))
      .agg(max(col("t")).as("n_events"), count(lit(1)).as("n_types"),
        sum(col("cb")).cast("long").as("cbits"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        expr("(cbits * 1000000) div n_events").as("entropy_floor_e6"))
      .orderBy(col("user_id"))
  }

  private val qUserEntropySql =
    """WITH tf AS MATERIALIZED (SELECT user_id, event_type, COUNT(*) AS c
      |FROM events GROUP BY 1, 2),
      |tot AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS t FROM tf GROUP BY 1),
      |b AS (SELECT tf.user_id, tf.c, tot.t,
      |(length(bin(CAST(tot.t // tf.c AS BIGINT))) - 1) * tf.c AS cb
      |FROM tf JOIN tot USING (user_id))
      |SELECT user_id, MAX(t) AS n_events, COUNT(*) AS n_types,
      |CAST(CAST(SUM(cb) AS BIGINT) * 1000000 // MAX(t) AS BIGINT) AS entropy_floor_e6
      |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin.replace('\n', ' ')

  /** Bond-percolation curve: connected components of the weight-filtered
    * customer–supplier graph at two thresholds (w≥20, w≥40; the full graph is q_graph_wcc) — component count,
    * giant-component size and surviving vertex count per threshold (the
    * robustness panel; vertices isolated by the filter leave the graph,
    * identically in both engines). Two FastSV runs over shrinking
    * subgraphs; the oracle replays two 12-round label-prop chains. */
  private def qPercolation(t: Tables): DataFrame = {
    val e = TestGraphs.custSuppSym(t)
    Seq(20L, 40L).map { th =>
      val cc = Algos.wcc(e.filter(col("w") >= th).select("src", "dst"))
      cc.groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_components"), max(col("sz")).as("largest"),
          sum(col("sz")).cast("long").as("n_vertices"))
        .select(lit(th).as("w_min"), col("n_components"), col("largest"),
          col("n_vertices"))
    }.reduce(_ unionByName _).orderBy(col("w_min"))
  }

  private def qPercolationSql(rounds: Int): String = {
    val ths = Seq(20L, 40L)
    val blocks = ths.map { th =>
      val steps = (1 to rounds).map { i =>
        s"""lt${th}_$i AS MATERIALIZED (SELECT id, MIN(lbl) AS lbl FROM (
           |SELECT id, lbl FROM lt${th}_${i - 1}
           |UNION ALL
           |SELECT e.dst AS id, l.lbl AS lbl FROM lt${th}_${i - 1} l
           |JOIN et$th e ON l.id = e.src) t GROUP BY id)""".stripMargin.replace('\n', ' ')
      }.mkString(", ")
      s"""et$th AS MATERIALIZED (SELECT src, dst FROM e WHERE w >= $th),
         |vt$th AS MATERIALIZED (SELECT DISTINCT src AS id FROM et$th),
         |lt${th}_0 AS MATERIALIZED (SELECT id, id AS lbl FROM vt$th),
         |$steps,
         |agg$th AS (SELECT CAST($th AS BIGINT) AS w_min,
         |COUNT(*) AS n_components, MAX(sz) AS largest,
         |CAST(SUM(sz) AS BIGINT) AS n_vertices FROM (
         |SELECT lbl, COUNT(*) AS sz FROM lt${th}_$rounds GROUP BY lbl) z)""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    val union = ths.map(th => s"SELECT * FROM agg$th").mkString(" UNION ALL ")
    s"""WITH ${TestGraphs.custSuppSymSql},
       |$blocks
       |SELECT w_min, n_components, largest, n_vertices FROM ($union) f
       |ORDER BY w_min""".stripMargin.replace('\n', ' ')
  }

  /** Jones–Plassmann greedy coloring of the symmetrized per-user event
    * chains — unique fixpoint (sequential greedy in md5-priority order),
    * so the oracle unrolls ≥ convergence rounds. Graph choice matters:
    * JP's round count is bounded by the longest priority-increasing path,
    * which is O(log n/log log n) on the sparse chain graph but ~2·|side|
    * on the dense bipartite customer–supplier graph (measured: 12 oracle
    * rounds left 73/160 vertices uncolored there) — dense graphs belong
    * to [[graft.graph.Algos.independentSet]]-style peeling, chains are
    * the JP case. */
  private def qColoring(t: Tables): DataFrame =
    Algos.greedyColoring(
      Prep.makeSymmetric(TestGraphs.eventChain(t)))

  private def qColoringSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""w$r AS MATERIALIZED (SELECT v.id, v.p FROM v${r - 1} v
         |WHERE v.color IS NULL AND NOT EXISTS (
         |SELECT 1 FROM e JOIN v${r - 1} n ON n.id = e.dst
         |WHERE e.src = v.id AND n.color IS NULL
         |AND (n.p > v.p OR (n.p = v.p AND n.id > v.id)))),
         |u$r AS MATERIALIZED (SELECT w.id, list_sort(list(DISTINCT n.color)) AS cols
         |FROM w$r w JOIN e ON e.src = w.id JOIN v${r - 1} n ON n.id = e.dst
         |WHERE n.color IS NOT NULL GROUP BY w.id),
         |c$r AS MATERIALIZED (SELECT w.id, COALESCE(m.mex, 0) AS newc
         |FROM w$r w LEFT JOIN (
         |SELECT uid AS id, MIN(cand) AS mex FROM (
         |SELECT u.id AS uid, t.cand
         |FROM u$r u, unnest(range(0, len(u.cols) + 1)) AS t(cand)
         |WHERE NOT list_contains(u.cols, cand)) z GROUP BY uid) m ON m.id = w.id),
         |v$r AS MATERIALIZED (SELECT v.id, v.p, COALESCE(v.color, c.newc) AS color
         |FROM v${r - 1} v LEFT JOIN c$r c ON c.id = v.id)""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    s"""WITH ec AS MATERIALIZED (${TestGraphs.eventChainSql}),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM
       |(SELECT src, dst FROM ec UNION ALL SELECT dst AS src, src AS dst FROM ec) z),
       |vx AS (SELECT DISTINCT src AS id FROM e),
       |v0 AS MATERIALIZED (SELECT id,
       |CAST(('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) AS p,
       |CAST(NULL AS BIGINT) AS color FROM vx),
       |$roundCtes
       |SELECT id, color FROM v$rounds ORDER BY id""".stripMargin.replace('\n', ' ')
  }

  /** Maximal matching by mutual proposals on the symmetrized event
    * chains — unique deterministic fixpoint, oracle-unrolled (the
    * globally max-priority live vertex matches every round, and chain
    * graphs clear in a handful of rounds). */
  private def qMatching(t: Tables): DataFrame =
    Algos.maximalMatching(
      Prep.makeSymmetric(TestGraphs.eventChain(t)))

  private def qMatchingSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""pk$r AS MATERIALIZED (SELECT src, dst FROM (
         |SELECT l.src, l.dst,
         |ROW_NUMBER() OVER (PARTITION BY l.src ORDER BY n.p DESC, l.dst DESC) AS rn
         |FROM l${r - 1} l JOIN pr n ON n.id = l.dst) z WHERE rn = 1),
         |m$r AS MATERIALIZED (SELECT a.src AS u, a.dst AS v
         |FROM pk$r a JOIN pk$r b ON a.src = b.dst AND a.dst = b.src
         |WHERE a.src < a.dst),
         |mm$r AS MATERIALIZED (SELECT u, v FROM mm${r - 1} UNION ALL SELECT u, v FROM m$r),
         |vs$r AS MATERIALIZED (SELECT u AS id FROM mm$r UNION SELECT v AS id FROM mm$r),
         |l$r AS MATERIALIZED (SELECT l.src, l.dst FROM l${r - 1} l
         |WHERE l.src NOT IN (SELECT id FROM vs$r)
         |AND l.dst NOT IN (SELECT id FROM vs$r))""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    s"""WITH ec AS MATERIALIZED (${TestGraphs.eventChainSql}),
       |l0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
       |(SELECT src, dst FROM ec UNION ALL SELECT dst AS src, src AS dst FROM ec) z),
       |pr AS MATERIALIZED (SELECT id,
       |CAST(('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) AS p
       |FROM (SELECT DISTINCT src AS id FROM l0) v),
       |mm0 AS (SELECT CAST(0 AS BIGINT) AS u, CAST(0 AS BIGINT) AS v WHERE false),
       |$roundCtes
       |SELECT u, v FROM mm$rounds ORDER BY u""".stripMargin.replace('\n', ' ')
  }

  /** 2-approximation vertex cover = both endpoints of a maximal matching
    * (classic Gavril/Yannakakis bound: every edge touches a matched
    * vertex, and OPT ≥ |M| since matched edges are disjoint). Pure
    * derivation from [[qMatching]]'s fixpoint — the oracle reuses the
    * unrolled matching chain. */
  private def qVertexCover(t: Tables): DataFrame = {
    val m = Algos.maximalMatching(
      Prep.makeSymmetric(TestGraphs.eventChain(t)))
    m.select(col("u").as("id")).union(m.select(col("v").as("id")))
      .distinct().orderBy(col("id"))
  }

  private def qVertexCoverSql(rounds: Int): String = {
    val base = qMatchingSql(rounds)
    // swap the final projection of the matching chain for the cover set
    base.replace(s"SELECT u, v FROM mm$rounds ORDER BY u",
      s"SELECT DISTINCT id FROM (SELECT u AS id FROM mm$rounds " +
        s"UNION ALL SELECT v AS id FROM mm$rounds) z ORDER BY id")
  }

  private val qNeighborhoodSql = {
    val rounds = (1 to 4).map { h =>
      s"""r$h AS MATERIALIZED (SELECT DISTINCT tag, v FROM (
         |SELECT r${h - 1}.tag, e.dst AS v FROM r${h - 1} JOIN e ON r${h - 1}.v = e.src
         |UNION ALL SELECT tag, v FROM r${h - 1}))""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    val counts = (0 to 4)
      .map(h => s"SELECT CAST($h AS BIGINT) AS h, COUNT(*) AS n_pairs FROM r$h")
      .mkString(" UNION ALL ")
    s"""WITH ${TestGraphs.custSuppSymSql},
       |v AS (SELECT DISTINCT src AS id FROM e),
       |r0 AS MATERIALIZED (SELECT id AS tag, id AS v FROM v WHERE id % 151 = 0),
       |$rounds
       |SELECT h, n_pairs FROM ($counts) z ORDER BY h""".stripMargin.replace('\n', ' ')
  }

  private def qPagerank(t: Tables): DataFrame =
    Algos.pagerank(TestGraphs.custSuppSym(t), iterations = 5)
      .select(col("id"), e6(col("pr")).as("pr_e6"))
      .orderBy(col("id"))

  private def qMaxProp(t: Tables): DataFrame =
    Algos.maxProp(TestGraphs.custSuppSym(t).select("src", "dst")).orderBy(col("id"))

  private def qCcEvents(t: Tables): DataFrame =
    Algos.wcc(Prep.makeSymmetric(TestGraphs.eventChain(t)))
      .orderBy(col("id"))

  private val qCcEventsSql =
    """SELECT event_id AS id, MIN(event_id) OVER (PARTITION BY user_id) AS component
      |FROM events
      |WHERE user_id IN (SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) >= 2)
      |ORDER BY id""".stripMargin.replace('\n', ' ')

  private def qTriCount(t: Tables): DataFrame =
    Algos.triangleCount(TestGraphs.suppCoPairs(t))

  /** 9-truss of the part co-occurrence graph (parts in the same order):
    * edges in ≥ 7 within-subgraph triangles after peeling
    * ([[Algos.kTruss]]). k=9 drives a real cascade on this graph
    * (115.7k → 12.1k edges over 11 rounds at sf0.01; 1.2M → 133k over
    * 4 rounds at sf0.1) — the supplier graph is complete at every sf,
    * which makes its truss trivial and its triangle pass maximal. */
  private def qKtruss(t: Tables): DataFrame =
    Algos.kTruss(TestGraphs.partCoPairs(t), k = 9)

  private val qTriCountSql =
    s"""WITH cp AS (${TestGraphs.suppCoPairsSql})
       |SELECT COUNT(*) AS triangles
       |FROM cp a JOIN cp b ON b.u = a.u AND b.v > a.v
       |JOIN cp c ON c.u = a.v AND c.v = b.v""".stripMargin.replace('\n', ' ')

  /** Candidate cap 128 per supplier (top by lineitem count, then src id):
    * bounds the pair blowup at any hub — see Algos.triangleClosing. */
  private def qTriClosing(t: Tables): DataFrame =
    Algos.triangleClosing(TestGraphs.custSupp(t), topK = 20, maxFanIn = 128)

  private val qTriClosingSql =
    s"""WITH ce AS (${TestGraphs.custSuppSql}),
       |cc AS MATERIALIZED (SELECT src, dst FROM ce
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, src) <= 128)
       |SELECT a.src AS u, b.src AS v, COUNT(*) AS common
       |FROM cc a JOIN cc b ON a.dst = b.dst AND a.src < b.src
       |GROUP BY 1, 2 ORDER BY common DESC, u, v LIMIT 20""".stripMargin.replace('\n', ' ')

  private def qKcore(t: Tables): DataFrame =
    Algos.kCore(TestGraphs.custSuppSym(t), k = 30)

  private def qClustering(t: Tables): DataFrame =
    Algos.clusteringCoefficient(TestGraphs.suppCoPairs(t))
      .orderBy(col("id"))

  private val qClusteringSql =
    s"""WITH cp AS MATERIALIZED (${TestGraphs.suppCoPairsSql}),
       |tri AS MATERIALIZED (SELECT a.u AS x, a.v AS y, b.v AS z
       |FROM cp a JOIN cp b ON b.u = a.u AND b.v > a.v
       |WHERE EXISTS (SELECT 1 FROM cp c WHERE c.u = a.v AND c.v = b.v)),
       |tv AS (SELECT id, COUNT(*) AS tri_cnt FROM (
       |SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) t
       |GROUP BY id),
       |deg AS (SELECT id, COUNT(*) AS d FROM (
       |SELECT u AS id FROM cp UNION ALL SELECT v FROM cp) t GROUP BY id)
       |SELECT deg.id, COALESCE(tv.tri_cnt, 0) AS tri_cnt,
       |CASE WHEN deg.d >= 2
       |THEN CAST(FLOOR((2 * COALESCE(tv.tri_cnt, 0) / (deg.d * (deg.d - 1))) * 1000000) AS BIGINT)
       |ELSE 0 END AS cc_e6
       |FROM deg LEFT JOIN tv ON deg.id = tv.id ORDER BY deg.id""".stripMargin.replace('\n', ' ')

  private def qMis(t: Tables): DataFrame =
    Algos.independentSet(TestGraphs.suppCoSym(t)).orderBy(col("id"))

  private def qScc(t: Tables): DataFrame =
    Algos.scc(TestGraphs.suppRing(t)).orderBy(col("id"))

  /** Bow-tie macro-structure of the wait-for graph
    * ([[graft.graph.Algos.bowtie]]): the supplier ring is one giant SCC
    * (gcd(7, n) = 1 ⇒ the +7 edges cycle through every vertex), so
    * core = the ring, out = the suppliers those ring customers wait on,
    * in = ∅ (nothing outside the ring points into it — a pinned
    * zero-row class, the dq_checks discipline), other = the remaining
    * customers. The oracle reuses the SCC transitive-closure doubling
    * plus two closure-probe reach sets. */
  private def qBowtie(t: Tables): DataFrame =
    Algos.bowtie(TestGraphs.waitFor(t))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy(col("cls"))

  private val qBowtieSql = {
    val k = 8
    val steps = (1 to k).map { i =>
      s"c$i AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM c${i - 1} x JOIN c${i - 1} y ON x.b = y.a)"
    }.mkString(", ")
    s"""WITH ${TestGraphs.waitForSql},
       |v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
       |c0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT id AS a, id AS b FROM v),
       |$steps,
       |scc AS MATERIALIZED (SELECT f.a AS id, MAX(f.b) AS comp FROM c$k f
       |JOIN c$k r ON f.a = r.b AND f.b = r.a GROUP BY f.a),
       |core AS (SELECT comp FROM (SELECT comp, COUNT(*) AS n FROM scc GROUP BY 1) z
       |ORDER BY n DESC, comp LIMIT 1),
       |cv AS MATERIALIZED (SELECT id FROM scc JOIN core USING (comp)),
       |fwd AS MATERIALIZED (SELECT DISTINCT c.b AS id FROM c$k c JOIN cv ON c.a = cv.id),
       |bwd AS MATERIALIZED (SELECT DISTINCT c.a AS id FROM c$k c JOIN cv ON c.b = cv.id),
       |cls AS (SELECT v.id,
       |CASE WHEN cc.id IS NOT NULL THEN 'core'
       |WHEN b.id IS NOT NULL THEN 'in'
       |WHEN f.id IS NOT NULL THEN 'out' ELSE 'other' END AS cls
       |FROM v LEFT JOIN cv cc ON v.id = cc.id
       |LEFT JOIN bwd b ON v.id = b.id LEFT JOIN fwd f ON v.id = f.id)
       |SELECT cls, COUNT(*) AS n, MIN(id) AS min_id, MAX(id) AS max_id
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' ')
  }

  /** Directed triad census on the supplier ring: cyclic triangles
    * (a→b→c→a) vs transitive/feed-forward ones (a→b→c, a→c) — the
    * motif distinction at the base of network-motif analysis (Milo et
    * al. 2002, public method). Two edge joins chase a→b→c, then the
    * closing edge's DIRECTION classifies; each cycle is counted three
    * times (rotations) and each FFL once per its unique topological
    * order, so cycles div 3 + ffl = total distinct triads. Exact
    * counts, shuffle-bound joins on the edge key. */
  private def qTriadCensus(t: Tables): DataFrame = {
    val e = TestGraphs.suppRing(t).select(col("src"), col("dst")).distinct()
    val paths = e.as("e1").join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .filter(col("e1.src") =!= col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val cyc = paths.join(e.select(col("src").as("c"), col("dst").as("a")), Seq("a", "c"))
      .agg(count(lit(1)).as("n3"))
    val ffl = paths.join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("nf"))
    cyc.crossJoin(broadcast(ffl))
      .select(expr("n3 div 3").as("n_cycles"), col("nf").as("n_ffl"))
  }

  private val qTriadCensusSql =
    s"""WITH r AS MATERIALIZED (${TestGraphs.suppRingSql}),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM r),
       |p AS MATERIALIZED (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |FROM e e1 JOIN e e2 ON e1.dst = e2.src WHERE e1.src <> e2.dst),
       |cy AS (SELECT COUNT(*) AS n3 FROM p JOIN e ON e.src = p.c AND e.dst = p.a),
       |ff AS (SELECT COUNT(*) AS nf FROM p JOIN e ON e.src = p.a AND e.dst = p.c)
       |SELECT CAST(n3 // 3 AS BIGINT) AS n_cycles, nf AS n_ffl
       |FROM cy CROSS JOIN ff""".stripMargin.replace('\n', ' ')

  private def qNorm(t: Tables): DataFrame =
    Prep.normalizeEdgeWeights(TestGraphs.custSupp(t).select("src", "dst", "w"))
      .select(col("src"), col("dst"), e6(col("w")).as("wn_e6"))
      .orderBy(col("src"), col("dst"))

  private val qNormSql =
    s"""WITH ce AS MATERIALIZED (${TestGraphs.custSuppSql})
       |SELECT src, dst, CAST(FLOOR(w / CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE) * 1000000) AS BIGINT) AS wn_e6
       |FROM ce ORDER BY src, dst""".stripMargin.replace('\n', ' ')

  private def qWPagerank(t: Tables): DataFrame =
    Algos.pagerankWeighted(TestGraphs.custSuppSym(t), iterations = 5)
      .select(col("id"), e6(col("pr")).as("pr_e6"))
      .orderBy(col("id"))

  private def qRwr(t: Tables): DataFrame = {
    val e = TestGraphs.custSuppSym(t).select("src", "dst")
    val source = e.agg(min(col("src"))).first().getLong(0)
    Algos.randomWalkWithRestart(e, source, iterations = 5)
      .select(col("id"), e6(col("pr")).as("pr_e6"))
      .orderBy(col("id"))
  }

  /** Per-source eccentricities from the 4 smallest vertices — ONE
    * tagged multi-source BFS loop ([[graft.graph.Algos.eccentricities]]).
    * The 4 source ids are the only driver-side values (scalars rule). */
  private def qEcc(t: Tables): DataFrame = {
    val e = TestGraphs.custSuppSym(t).select("src", "dst")
    val sources = e.select(col("src")).distinct().orderBy(col("src"))
      .limit(4).collect().map(_.getLong(0)).toSeq
    Algos.eccentricities(e, sources)
  }

  /** Diameter lower bound of the customer–supplier graph via the
    * classic double sweep ([[graft.graph.Algos.doubleSweep]]): BFS from
    * the min vertex, re-BFS from the farthest reached (deterministic
    * tie-break), report its eccentricity. The oracle unrolls both BFS
    * chains and replays the same farthest pick. */
  private def qDiameter(t: Tables): DataFrame =
    Algos.doubleSweep(TestGraphs.custSuppSym(t).select("src", "dst"))

  /** Minimum spanning forest of the customer–supplier graph
    * ([[graft.graph.Algos.mst]], Borůvka). Hash-matched against
    * [[graft.sql.OracleGen.boruvkaSql]] — a full Borůvka replay in
    * unrolled SQL (pointer-doubling contraction, no union-find needed);
    * determinism + Kruskal equality are additionally pinned by
    * AlgosSpec. */
  private def qMst(t: Tables): DataFrame =
    Algos.mst(TestGraphs.custSupp(t)
      .select(col("src").as("u"), col("dst").as("v"), col("w")))

  /** Node-embedding walk corpus ([[graft.graph.Algos.randomWalks]]):
    * one 3-step deterministic walk per vertex; every hop replayed by the
    * oracle through the same md5-indexed adjacency rule. */
  private def qWalks(t: Tables): DataFrame =
    Algos.randomWalks(TestGraphs.custSuppSym(t).select("src", "dst"), len = 3)

  /** Link strength on the part co-occurrence graph
    * ([[graft.graph.Algos.edgeJaccard]]): neighborhood Jaccard per
    * existing edge via the triangle-intersection kernel. */
  private def qEdgeJaccard(t: Tables): DataFrame =
    Algos.edgeJaccard(TestGraphs.partCoPairs(t), topK = 100)

  private val qEdgeJaccardSql =
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |sym AS MATERIALIZED (SELECT u, v FROM cp UNION ALL SELECT v AS u, u AS v FROM cp),
       |deg AS (SELECT u AS id, COUNT(*) AS d FROM sym GROUP BY 1),
       |sup AS (SELECT c.u, c.v, COUNT(*) AS s FROM cp c
       |JOIN sym a ON a.u = c.u JOIN sym b ON b.u = c.v AND b.v = a.v
       |WHERE a.v != c.u AND a.v != c.v GROUP BY 1, 2),
       |j AS (SELECT c.u, c.v, CAST(COALESCE(s.s, 0) AS BIGINT) AS support,
       |du.d AS du, dv.d AS dv FROM cp c
       |LEFT JOIN sup s ON s.u = c.u AND s.v = c.v
       |JOIN deg du ON du.id = c.u JOIN deg dv ON dv.id = c.v)
       |SELECT u, v, support,
       |CASE WHEN du + dv - 2 - support > 0
       |THEN support * 1000000 // (du + dv - 2 - support)
       |ELSE CAST(1000000 AS BIGINT) END AS jac_e6
       |FROM j ORDER BY jac_e6 DESC, u, v LIMIT 100""".stripMargin.replace('\n', ' ')

  /** Community detection: 4 synchronous LPA rounds over the symmetric
    * customer–supplier graph (neighborhood mode, min-label ties). Oracle
    * unrolls the identical rule — see [[graft.sql.OracleGen.lpaSql]]. */
  private def qLpa(t: Tables): DataFrame =
    Algos.lpa(TestGraphs.custSuppSym(t).select("src", "dst"), rounds = 4)
      .orderBy(col("id"))

  /** Harmonic centrality of the 4 smallest vertices — the
    * disconnect-robust closeness, riding the same tagged multi-source
    * BFS as q_graph_ecc ([[graft.graph.Algos.harmonicCentrality]]). */
  private def qHarmonic(t: Tables): DataFrame = {
    val e = TestGraphs.custSuppSym(t).select("src", "dst")
    val sources = e.select(col("src")).distinct().orderBy(col("src"))
      .limit(4).collect().map(_.getLong(0)).toSeq
    Algos.harmonicCentrality(e, sources)
      .select(col("source"),
        expr(s"(harmonic_num * 1000000) div ${Algos.HarmonicLcm}").as("harmonic_e6"),
        col("n_reached"))
      .orderBy(col("source"))
  }

  /** HITS hubs/authorities on the DIRECTED customer→supplier graph
    * ([[graft.graph.Algos.hits]], 4 L1-normalized rounds): suppliers
    * accumulate authority, customers hub weight — the bipartite shape
    * makes both sides non-trivial. Oracle unrolls the identical
    * normalize-divide recurrence. */
  private def qHits(t: Tables): DataFrame =
    Algos.hits(TestGraphs.custSupp(t).select("src", "dst"), iterations = 4)
      .select(col("id"), e6(col("auth")).as("auth_e6"),
        e6(col("hub")).as("hub_e6"))
      .orderBy(col("id"))

  /** Newman-Girvan modularity summands of the 4-round LPA partition
    * ([[graft.graph.Algos.modularity]] ∘ [[graft.graph.Algos.lpa]]) —
    * the "was this community structure real" follow-up every LPA run
    * needs. Exact integer numerators; one scalar m2. */
  private def qModularity(t: Tables): DataFrame = owned { o =>
    val e = TestGraphs.custSuppSym(t).select("src", "dst")
    Algos.modularity(e, o(Algos.lpa(e, rounds = 4)))
      .select(col("community"), col("n_members"), col("internal2"),
        col("deg_sum"), e6(col("contrib")).as("contrib_e6"))
      .orderBy(col("community"))
  }

  /** Source-sampled Brandes betweenness from the 4 smallest vertices
    * ([[graft.graph.Algos.betweenness]]): forward σ-counting BFS +
    * backward dependency peel, both level-synchronous. Sampled sources
    * is the standard at-scale estimator (exact Brandes is Θ(V·E)). */
  private def qBetweenness(t: Tables): DataFrame = {
    val e = TestGraphs.custSuppSym(t).select("src", "dst")
    val sources = e.select(col("src")).distinct().orderBy(col("src"))
      .limit(4).collect().map(_.getLong(0)).toSeq
    Algos.betweenness(e, sources)
      .select(col("id"), e4(col("bc")).as("bc_e4"))
      .orderBy(col("id"))
  }

  /** Time-respecting earliest-arrival reachability over the temporal
    * customer–supplier graph ([[graft.graph.Algos.temporalReach]]):
    * paths may only traverse edges with non-decreasing order days.
    * 8 fixed relaxation rounds, matched round-for-round by the oracle. */
  private def qTemporalReach(t: Tables): DataFrame = {
    val e = TestGraphs.custSuppTemporal(t)
    val source = e.agg(min(col("src"))).first().getLong(0)
    Algos.temporalReach(e, source, rounds = 8)
  }

  /** Degree assortativity of the customer–supplier graph
    * ([[graft.graph.Algos.assortativity]]): strongly negative on a
    * bipartite hub structure — low-degree customers attach to
    * high-degree suppliers. Exact integer sums; one double formula. */
  private def qAssortativity(t: Tables): DataFrame =
    Algos.assortativity(TestGraphs.custSuppSym(t).select("src", "dst"))
      // assortativity returns NaN in the zero-degree-variance regime
      // (round-13 exploration find); the e6 floor+CAST would itself
      // throw on NaN under ANSI, so define the oracled column there:
      // r_e6 is NULL exactly when r is NaN, mirrored by the NULLIF
      // guard in the SQL twin (round-13 advice — engine and oracle
      // must agree end-to-end even on a degree-regular corpus graph)
      .select(col("m"), col("suv"),
        when(isnan(col("r")), lit(null).cast("long"))
          .otherwise(e6(col("r"))).as("r_e6"))

  private val qAssortativitySql =
    s"""WITH ${TestGraphs.custSuppSymSql},
       |deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src),
       |j AS MATERIALIZED (SELECT du.d AS du, dv.d AS dv FROM e
       |JOIN deg du ON du.id = e.src JOIN deg dv ON dv.id = e.dst),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(du) AS BIGINT) AS su,
       |CAST(SUM(dv) AS BIGINT) AS sv, CAST(SUM(du * dv) AS BIGINT) AS suv,
       |CAST(SUM(du * du) AS BIGINT) AS suu, CAST(SUM(dv * dv) AS BIGINT) AS svv FROM j)
       |SELECT m, suv, CAST(FLOOR((CAST(m * suv - su * sv AS DOUBLE)
       |/ NULLIF(sqrt(CAST(m * suu - su * su AS DOUBLE) * CAST(m * svv - sv * sv AS DOUBLE)), 0.0))
       |* 1000000) AS BIGINT) AS r_e6 FROM st""".stripMargin.replace('\n', ' ')

  /** Link prediction on the part co-purchase graph built from a
    * DETERMINISTIC 20% order sample (md5(orderkey) mod 5): wedge work
    * is Θ(Σ deg²) and co-occurrence degrees grow with basket count, so
    * sampling the basket side scales candidate generation QUADRATICALLY
    * down (measured: 298M wedges full vs ~12M sampled at sf0.1 — the
    * full-graph run cost 187s, the standard production trade for a
    * recommender candidate pass). The hub cap
    * ([[graft.graph.Algos.linkPredict]]) stays as the worst-case bound.
    * Top 50 non-edges by (common neighbors, preferential attachment). */
  private def qLinkPred(t: Tables): DataFrame = {
    val li = t.lineitem
      .filter(pmod(graft.pipeline.Corpus.md5Uniform(col("l_orderkey").cast("string")), lit(5L)) === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    Algos.linkPredict(pairs, maxMidDeg = 500L)
      .orderBy(col("cn").desc, col("u"), col("v"))
      .limit(50)
  }

  private val qLinkPredSampledPairsSql =
    """SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |FROM (SELECT l_orderkey, l_partkey FROM lineitem WHERE
      |HEXU(md5(CAST(l_orderkey AS VARCHAR))) % 5 = 0) a
      |JOIN (SELECT l_orderkey, l_partkey FROM lineitem WHERE
      |HEXU(md5(CAST(l_orderkey AS VARCHAR))) % 5 = 0) b
      |ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"""
      .stripMargin.replace('\n', ' ')
      .replace("HEXU(md5(CAST(l_orderkey AS VARCHAR)))",
        graft.sql.OracleGen.hex6("md5(CAST(l_orderkey AS VARCHAR))"))

  private val qLinkPredSql =
    s"""WITH cp AS MATERIALIZED ($qLinkPredSampledPairsSql),
       |sym AS MATERIALIZED (SELECT u AS a, v AS b FROM cp UNION ALL SELECT v, u FROM cp),
       |deg AS MATERIALIZED (SELECT a, COUNT(*) AS d FROM sym GROUP BY 1),
       |cap AS MATERIALIZED (SELECT sym.a, sym.b FROM sym JOIN deg ON sym.a = deg.a WHERE d <= 500),
       |cn AS MATERIALIZED (SELECT x.b AS u, y.b AS v, COUNT(*) AS cn
       |FROM cap x JOIN cap y ON x.a = y.a AND x.b < y.b GROUP BY 1, 2),
       |ne AS (SELECT cn.u, cn.v, cn.cn FROM cn LEFT JOIN cp ON cn.u = cp.u AND cn.v = cp.v
       |WHERE cp.u IS NULL)
       |SELECT ne.u, ne.v, cn, du.d * dv.d AS pa
       |FROM ne JOIN deg du ON ne.u = du.a JOIN deg dv ON ne.v = dv.a
       |ORDER BY cn DESC, u, v LIMIT 50""".stripMargin.replace('\n', ' ')

  /** Katz-style centrality on the customer→supplier graph, 6 rounds,
    * attenuation 1/4096 — the exact-integer recurrence contract is in
    * [[graft.graph.Algos.katz]]; the oracle unrolls all 6 rounds of the
    * identical BIGINT chain. */
  private def qKatz(t: Tables): DataFrame =
    Algos.katz(TestGraphs.custSupp(t), rounds = 6)
      .orderBy(col("id"))

  private val qKatzSql = {
    val rounds = 6
    val body = (1 to rounds).map { k =>
      s"""x$k AS MATERIALIZED (SELECT verts.id,
         |CAST(1000000 + COALESCE(s.s, 0) // 4096 AS BIGINT) AS x
         |FROM verts LEFT JOIN (SELECT dst, SUM(x) AS s FROM e
         |JOIN x${k - 1} ON e.src = x${k - 1}.id GROUP BY 1) s
         |ON verts.id = s.dst)""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    s"""WITH ce AS MATERIALIZED (${TestGraphs.custSuppSql}),
       |e AS MATERIALIZED (SELECT src, dst FROM ce),
       |verts AS MATERIALIZED (SELECT DISTINCT id FROM
       |(SELECT src AS id FROM e UNION ALL SELECT dst FROM e) t),
       |x0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS x FROM verts),
       |$body
       |SELECT id, x AS katz_scaled FROM x$rounds ORDER BY id""".stripMargin.replace('\n', ' ')
  }

  /** Edge reciprocity of the directed supplier ring: the fraction of
    * directed edges whose reverse also exists — the standard
    * directed-graph symmetry diagnostic (1.0 ⟺ effectively
    * undirected). One self-join ON the reversed key + exact e6 ratio. */
  private def qReciprocity(t: Tables): DataFrame = {
    val e = TestGraphs.suppRing(t).select(col("src"), col("dst")).distinct()
    val recip = e.as("a").join(e.as("b"),
      col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
    val n = e.count()
    recip.agg(count(lit(1)).as("n_reciprocal"))
      .select(lit(n).as("n_edges"), col("n_reciprocal"),
        expr("(n_reciprocal * 1000000) div " + n).as("reciprocity_e6"))
  }

  private val qReciprocitySql =
    s"""WITH r AS MATERIALIZED (${TestGraphs.suppRingSql}),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM r),
       |n AS (SELECT COUNT(*) AS n_edges FROM e),
       |rc AS (SELECT COUNT(*) AS n_reciprocal FROM e a
       |JOIN e b ON a.src = b.dst AND a.dst = b.src)
       |SELECT n_edges, n_reciprocal,
       |CAST((n_reciprocal * 1000000) // n_edges AS BIGINT) AS reciprocity_e6
       |FROM rc CROSS JOIN n""".stripMargin.replace('\n', ' ')

  /** Equi-width histogram of order totals (20 bins over the exact cent
    * range): bin = (x − min)·20 div (max − min + 1), all integers, so
    * bin edges are identical in both engines — the generic-value
    * companion to the log-binned degree histogram. Two aggs + one
    * broadcast of the (min, max) scalar row. */
  private def qHistogram(t: Tables): DataFrame = {
    val cents = t.orders.select(e2(col("o_totalprice")).as("x"))
    val mm = cents.agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    cents.crossJoin(broadcast(mm))
      .select(expr("((x - mn) * 20) div (mx - mn + 1)").as("bin"), col("x"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("lo"), max(col("x")).as("hi"))
      .orderBy(col("bin"))
  }

  private val qHistogramSql =
    """WITH c AS (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS x FROM orders),
      |mm AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM c)
      |SELECT ((x - mn) * 20) // (mx - mn + 1) AS bin, COUNT(*) AS n,
      |MIN(x) AS lo, MAX(x) AS hi
      |FROM c CROSS JOIN mm GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' ')

  private def qDegStats(t: Tables): DataFrame =
    Algos.degreeStats(TestGraphs.custSupp(t))

  private val qDegStatsSql =
    s"""WITH ce AS MATERIALIZED (${TestGraphs.custSuppSql}),
       |d AS (SELECT src, COUNT(*) AS d FROM ce GROUP BY src)
       |SELECT COUNT(*) AS n_vertices, MIN(d) AS min_deg, MAX(d) AS max_deg,
       |CAST(FLOOR(AVG(d) * 10000) AS BIGINT) AS avg_deg_e4, median(d) AS median_deg FROM d""".stripMargin.replace('\n', ' ')

  /** Log-binned degree distribution (power-law inspection — the first
    * plot anyone makes of a graph): bucket = ⌊log₂(out-degree)⌋ via the
    * integer bin-length idiom (no libm), counts per bucket. */
  private def qDegHist(t: Tables): DataFrame =
    TestGraphs.custSupp(t)
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .select((length(bin(col("d"))) - 1).cast("long").as("log2_deg"))
      .groupBy(col("log2_deg")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("log2_deg"))

  private val qDegHistSql =
    s"""WITH ce AS MATERIALIZED (${TestGraphs.custSuppSql}),
       |d AS (SELECT src, COUNT(*) AS d FROM ce GROUP BY src)
       |SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS log2_deg,
       |COUNT(*) AS n_vertices
       |FROM d GROUP BY 1 ORDER BY log2_deg""".stripMargin.replace('\n', ' ')

  /** Partitioning-quality stats (edge locality + avg bucket fanout) of
    * the id-mod-8 placement over the customer–supplier graph. */
  private def qPartitionStats(t: Tables): DataFrame =
    Algos.partitioningStats(TestGraphs.custSupp(t), nBuckets = 8)

  private val qPartitionStatsSql =
    s"""WITH ce AS MATERIALIZED (${TestGraphs.custSuppSql}),
       |e AS (SELECT src, dst, src % 8 AS bs, dst % 8 AS bd FROM ce),
       |f AS (SELECT src, COUNT(DISTINCT bd) AS f FROM e GROUP BY src),
       |a1 AS (SELECT COUNT(*) AS ne,
       |SUM(CASE WHEN bs = bd THEN 1 ELSE 0 END) AS le FROM e),
       |a2 AS (SELECT COUNT(*) AS nv, SUM(f) AS sf FROM f)
       |SELECT CAST(ne AS BIGINT) AS n_edges, CAST(le AS BIGINT) AS local_edges,
       |CAST(FLOOR(CAST(le AS DOUBLE) / ne * 1000000) AS BIGINT) AS locality_e6,
       |CAST(FLOOR(CAST(sf AS DOUBLE) / nv * 1000000) AS BIGINT) AS avg_fanout_e6
       |FROM a1, a2""".stripMargin.replace('\n', ' ')

  private def qDeadlock(t: Tables): DataFrame =
    Algos.deadlock(TestGraphs.waitFor(t)).orderBy(col("id"))

  /** Bracha-Toueg OR/N-of-M deadlock on the tagged wait-for fixture;
    * initiator = supplier 1 (offset id space). */
  private def qBracha(t: Tables): DataFrame =
    Algos.brachaToueg(TestGraphs.taggedWaitFor(t),
      initiator = TestGraphs.SuppOffset + 3, rounds = 20).orderBy(col("id"))

  private def qPrepStats(t: Tables): DataFrame =
    Prep.cleanSymmetric(TestGraphs.custSupp(t))
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("d")).as("n_edges"),
        max(col("d")).as("max_degree"))

  private val qPrepStatsSql =
    s"""WITH ce AS (${TestGraphs.custSuppSql}),
       |cln AS (SELECT src, dst FROM (
       |SELECT DISTINCT src, dst FROM ce UNION SELECT DISTINCT dst, src FROM ce) t
       |WHERE src <> dst),
       |d AS (SELECT src, COUNT(*) AS d FROM cln GROUP BY src)
       |SELECT COUNT(*) AS n_vertices, CAST(SUM(d) AS BIGINT) AS n_edges,
       |MAX(d) AS max_degree FROM d""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------

  val queries: Seq[Query] = Seq(
    Query("q01_agg", q01, q01Sql),
    Query("q03_topn", q03, q03Sql),
    Query("q05_nation_rev", q05, q05Sql),
    Query("q06_filter_sum", q06, q06Sql),
    Query("q_rollup", qRollup, qRollupSql),
    Query("q_anti_customers", qAntiCustomers, qAntiCustomersSql),
    Query("q_props_json", qPropsJson, qPropsJsonSql),
    Query("q_zorder_keys", qZorderKeys, qZorderKeysSql),
    Query("q_ntile_deciles", qNtile, qNtileSql),
    Query("q_cube", qCube, qCubeSql),
    Query("q_pivot", qPivot, qPivotSql),
    Query("q_moving_avg", qMovingAvg, qMovingAvgSql),
    Query("q_quantiles", qQuantiles, qQuantilesSql),
    Query("q_distinct_kmv", qKmv, qKmvSql),
    Query("q_cohort", qCohort, qCohortSql),
    Query("q_funnel", qFunnel, qFunnelSql),
    Query("q_scd2", qScd2, qScd2Sql),
    Query("q_event_paths", qEventPaths, qEventPathsSql),
    Query("q_calendar_fill", qCalendarFill, qCalendarFillSql),
    Query("q_skew_salted", qSkewSalted, qSkewSaltedSql),
    Query("q_sessions", qSessions, qSessionsSql),
    Query("q_tumbling", qTumbling, qTumblingSql),
    Query("q_sliding", qSliding, qSlidingSql),
    Query("q_asof_purchase", qAsofPurchase, qAsofPurchaseSql),
    Query("q_range_attrib", qRangeAttrib, qRangeAttribSql),
    Query("q_window_funcs", qWindowFuncs, qWindowFuncsSql),
    Query("q_skyline", qSkyline, qSkylineSql),
    Query("q_assoc_rules", qAssocRules, qAssocRulesSql),
    Query("q_distinct_hll", qHll, qHllSql),
    Query("q_mad", qMad, qMadSql),
    Query("q_rfm", qRfm, qRfmSql),
    Query("q_markov", qMarkov, qMarkovSql),
    Query("q_mom_growth", qMomGrowth, qMomGrowthSql),
    Query("q_gini", qGini, qGiniSql),
    Query("q_chi2", qChi2, qChi2Sql),
    Query("q_diversity", qDiversity, qDiversitySql),
    Query("q_weighted_median", qWeightedMedian, qWeightedMedianSql),
    Query("q_grouped_topk", qGroupedTopK, qGroupedTopKSql),
    Query("q_hll_algebra", qHllAlgebra, qHllAlgebraSql),
    Query("q_autocorr", qAutocorr, qAutocorrSql),
    Query("q_anomaly_days", qAnomalyDays, qAnomalyDaysSql),
    Query("q_graph_reciprocity", qReciprocity, qReciprocitySql),
    Query("q_graph_triads", qTriadCensus, qTriadCensusSql),
    Query("q_histogram", qHistogram, qHistogramSql),
    Query("q_time_to_convert", qTimeToConvert, qTimeToConvertSql),
    Query("q_active_users", qActiveUsers, qActiveUsersSql),
    Query("q_split_3way", qSplit3Way, qSplit3WaySql),
    Query("q_cumulative_users", qCumulativeUsers, qCumulativeUsersSql),
    Query("q_churn", qChurn, qChurnSql),
    Query("q_skew_profile", qSkewProfile, qSkewProfileSql),
    Query("q_readability", qReadability, qReadabilitySql),
    Query("q_rate_limit", qRateLimit, qRateLimitSql),
    Query("q_corr_matrix", qCorrMatrix, qCorrMatrixSql),
    Query("q_regression", qRegression, qRegressionSql),
    Query("q_seasonal", qSeasonal, qSeasonalSql),
    Query("q_interarrival", qInterarrival, qInterarrivalSql),
    Query("q_unpivot", qUnpivot, qUnpivotSql),
    Query("q_pareto_abc", qParetoAbc, qParetoAbcSql),
    Query("q_target_enc", qTargetEnc, qTargetEncSql),
    Query("q_full_outer", qFullOuter, qFullOuterSql),
    Query("q_outliers", qOutliers, qOutliersSql),
    Query("q_graph_temporal", qTemporalReach, OracleGen.temporalReachSql(TestGraphs.custSuppTemporalSql, 8)),
    Query("q_graph_assortativity", qAssortativity, qAssortativitySql),
    Query("q_graph_linkpred", qLinkPred, qLinkPredSql),
    Query("q_graph_katz", qKatz, qKatzSql),
    Query("q_gaps_islands", qGapsIslands, qGapsIslandsSql),
    Query("q_grouping_sets", qGroupingSets, qGroupingSetsSql),
    Query("q_dq_checks", qDqChecks, qDqChecksSql),
    Query("q_profile", qProfile, qProfileSql),
    Query("q_bloom_prune", qBloomPrune, qBloomPruneSql),
    Query("q_fuzzy_join", qFuzzyJoin, qFuzzyJoinSql),
    Query("q_graph_degrees", qDegrees, qDegreesSql),
    Query("q_graph_wcc", qWcc,
      OracleGen.labelPropSql(TestGraphs.custSuppSymSql, 12, isMin = true, "component")),
    Query("q_graph_sssp", qSssp, OracleGen.ssspSql(TestGraphs.custSuppSymSql, 16)),
    Query("q_graph_bfs", qBfs, OracleGen.bfsMinSourceSql(TestGraphs.custSuppSymSql, 12)),
    Query("q_graph_neighborhood", qNeighborhood, qNeighborhoodSql),
    Query("q_graph_coloring", qColoring, qColoringSql(12)),
    Query("q_graph_matching", qMatching, qMatchingSql(12)),
    Query("q_graph_vertex_cover", qVertexCover, qVertexCoverSql(12)),
    Query("q_graph_percolation", qPercolation, qPercolationSql(12)),
    Query("q_user_entropy", qUserEntropy, qUserEntropySql),
    Query("q_graph_diameter", qDiameter, OracleGen.doubleSweepSql(TestGraphs.custSuppSymSql, 16)),
    Query("q_graph_pagerank", qPagerank, OracleGen.pagerankSql(TestGraphs.custSuppSymSql, 5, 0.85, 0.15)),
    Query("q_graph_maxprop", qMaxProp,
      OracleGen.labelPropSql(TestGraphs.custSuppSymSql, 12, isMin = false, "max_id")),
    Query("q_graph_cc_events", qCcEvents, qCcEventsSql),
    Query("q_graph_tri_count", qTriCount, qTriCountSql),
    Query("q_graph_ktruss", qKtruss,
      OracleGen.kTrussSql(s"e0 AS MATERIALIZED (${TestGraphs.partCoPairsSql})", 9, 14)),
    Query("q_graph_tri_closing", qTriClosing, qTriClosingSql),
    Query("q_graph_mis", qMis, OracleGen.misSql(TestGraphs.suppCoSymSql, 10)),
    Query("q_graph_scc", qScc, OracleGen.sccSql(s"e AS MATERIALIZED (${TestGraphs.suppRingSql})", 8)),
    Query("q_graph_bowtie", qBowtie, qBowtieSql),
    Query("q_graph_kcore", qKcore, OracleGen.kCoreSql(TestGraphs.custSuppSymSql, 30, 12)),
    Query("q_graph_clustering", qClustering, qClusteringSql),
    Query("q_graph_deadlock", qDeadlock, OracleGen.deadlockSql(TestGraphs.waitForSql, 8)),
    Query("q_graph_bracha", qBracha,
      OracleGen.brachaTouegSql(TestGraphs.taggedWaitForSql, TestGraphs.SuppOffset + 3, 20)),
    Query("q_graph_norm", qNorm, qNormSql),
    Query("q_graph_wpagerank", qWPagerank,
      OracleGen.pagerankWeightedSql(TestGraphs.custSuppSymSql, 5, 0.85, 0.15)),
    Query("q_graph_rwr", qRwr, OracleGen.rwrSql(TestGraphs.custSuppSymSql, 5, 0.85, 0.15)),
    Query("q_graph_lpa", qLpa, OracleGen.lpaSql(TestGraphs.custSuppSymSql, 4)),
    Query("q_graph_ecc", qEcc, OracleGen.eccSql(TestGraphs.custSuppSymSql, 4, 16)),
    Query("q_graph_harmonic", qHarmonic, OracleGen.harmonicSql(TestGraphs.custSuppSymSql, 4, 16)),
    Query("q_graph_hits", qHits, OracleGen.hitsSql(
      s"ce AS MATERIALIZED (${TestGraphs.custSuppSql}), e AS MATERIALIZED (SELECT src, dst FROM ce)", 4)),
    Query("q_graph_modularity", qModularity, OracleGen.modularitySql(TestGraphs.custSuppSymSql, 4)),
    Query("q_graph_betweenness", qBetweenness, OracleGen.betweennessSql(TestGraphs.custSuppSymSql, 4, 16)),
    Query("q_graph_edge_jaccard", qEdgeJaccard, qEdgeJaccardSql),
    Query("q_graph_walks", qWalks, OracleGen.walksSql(TestGraphs.custSuppSymSql, 3)),
    Query("q_graph_mst", qMst, OracleGen.boruvkaSql(
      s"ce AS MATERIALIZED (${TestGraphs.custSuppSql}), " +
        "ew AS MATERIALIZED (SELECT src AS u, dst AS v, w FROM ce)",
      rounds = 12, jumps = 12)),
    Query("q_graph_deg_stats", qDegStats, qDegStatsSql),
    Query("q_graph_deg_hist", qDegHist, qDegHistSql),
    Query("q_graph_partition_stats", qPartitionStats, qPartitionStatsSql),
    Query("q_graph_prep_stats", qPrepStats, qPrepStatsSql))

  /** Every declared query, this object's and the six family objects', by name. */
  private val byName: Map[String, Query] = Query.index(queries ++ TpchQueries.queries ++
    PipelineQueries.queries ++ CorpusQueries.queries ++ RetrievalQueries.queries ++
    AnalyticsQueries.queries ++ SignalQueries.queries)

  /** Each query's plan on the tables of a scale-factor directory. */
  val all: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> ((s: SparkSession, dir: String) => q.plan(Tables(s, dir))) }

  val oracles: Map[String, String] = byName.map { case (n, q) => n -> q.oracle }

  /** The named queries' plans, in the order given; throws on an unknown
    * name rather than dropping it. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.map(n => n -> all(n))
  }
}
