package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sql.Exact.{e2, idiv}

/** The remaining classic TPC-H query shapes, adapted to the reduced
  * test schema (no partsupp table, no commit/receipt dates, no
  * p_container/c_phone — each adaptation keeps the SHAPE that makes the
  * query a planner benchmark: Q4's correlated EXISTS, Q7/Q8/Q9's
  * multi-dimension joins, Q15's argmax-with-ties, Q16's distinct
  * aggregate, Q17's per-group threshold self-join, Q19's OR-of-conjuncts
  * pushdown, Q21's semi+anti chain, Q22's scalar-subquery anti-join).
  *
  * The reference has no relational layer at all (SURVEY §2.10) — this
  * family exists because the Spark-native engine inherits full SQL, and
  * these shapes are the standard proof that the inherited planner is
  * actually exercised: semi/anti joins, scalar subqueries, disjunctive
  * predicate pushdown, distinct aggregates.
  *
  * Scale posture: `nation` (25 rows) and `region` (5 rows) are
  * SF-constant and broadcast explicitly; `part`/`supplier`/`customer`
  * GROW with SF, so they are left to AQE (broadcast at bench scale,
  * shuffle-join at warehouse scale — forcing broadcast here would OOM a
  * 1000-executor run against SF-100k dims). All money outputs are
  * floor-scaled BIGINTs ([[graft.sql.Exact]]); the two ratio queries
  * (Q8/Q14) divide ALREADY-FLOORED e2 sums with integer division so the
  * share is integer-exact given matching sums. Quantity thresholds
  * (Q17) are integer-rewritten (5·q·cnt < Σq — quantities are integral)
  * so no float average ever sits on a comparison boundary, and Q22's
  * balance threshold compares per-row cents (exact) against the
  * positive-balance cent total: bal_cents · n_pos > Σ pos_cents.
  */
object TpchQueries {

  // --- Q4: priority count of orders with a late shipment (EXISTS) -----

  private def q04(t: Tables): DataFrame = {
    val o = t.orders
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
    // correlated EXISTS = left-semi with the correlation in the join
    // condition (o_orderdate lives on the left side)
    o.join(t.lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val q04Sql =
    """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
      |  AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace('\n', ' ')

  // --- Q7: bilateral shipping volume between a nation set -------------

  private val q07Nations = Seq(3, 8, 12, 13).map(_.toLong)

  private def q07(t: Tables): DataFrame = {
    val n1 = t.nation.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = t.nation.select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    t.lineitem
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey").isin(q07Nations: _*) &&
        col("c_nationkey").isin(q07Nations: _*) &&
        col("s_nationkey") =!= col("c_nationkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(e2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_e2"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private val q07Sql =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
      |CAST(FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_e2
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE n1.n_nationkey IN (3, 8, 12, 13) AND n2.n_nationkey IN (3, 8, 12, 13)
      |AND n1.n_nationkey <> n2.n_nationkey
      |AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace('\n', ' ')

  // --- Q8: national market share within a region ----------------------

  private def q08(t: Tables): DataFrame = {
    val euroNationKeys = t.nation
      .join(broadcast(t.region.filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"), "left_semi")
      .select(col("n_nationkey").as("en_key"))
    val suppNation = t.supplier.select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    t.lineitem
      .join(t.part.filter(col("p_type") === "ECONOMY").select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(t.orders.filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(euroNationKeys), col("c_nationkey") === col("en_key"), "left_semi")
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        e2(sum(when(col("supp_nation") === "NATION_3", rev).otherwise(lit(0)))).as("target_e2"),
        e2(sum(rev)).as("total_e2"))
      .select(col("o_year"),
        idiv(col("target_e2") * lit(1000000L), col("total_e2")).as("mkt_share_e6"))
      .orderBy(col("o_year"))
  }

  private val q08Sql =
    """WITH base AS (
      |SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year, n2.n_name AS supp_nation,
      |l_extendedprice * (1 - l_discount) AS rev
      |FROM lineitem JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN region ON n1.n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
      |AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
      |SELECT o_year,
      |(CAST(FLOOR(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) * 100) AS BIGINT) * 1000000)
      |// CAST(FLOOR(SUM(rev) * 100) AS BIGINT) AS mkt_share_e6
      |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin.replace('\n', ' ')

  // --- Q9: product-line profit by supplier nation and year ------------

  private def q09(t: Tables): DataFrame = {
    // floor to cents PER ROW, then integer-sum: the subtraction makes the
    // summand cancellation-prone, and floor(Σdoubles · 100) flipped a
    // last digit between engines at sf0.01 (addition-order ulp). Per-row
    // floor is computed on identical IEEE doubles in both engines, and
    // the BIGINT sum is order-free.
    val amount = floor((col("l_extendedprice") * (lit(1) - col("l_discount")) -
      lit(0.5) * col("p_retailprice") * col("l_quantity")) * lit(100)).cast("long")
    t.lineitem
      .join(t.part.filter(col("p_name").like("%widget%"))
          .select(col("p_partkey"), col("p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).as("profit_e2"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  private val q09Sql =
    """SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity) * 100) AS BIGINT)) AS BIGINT) AS profit_e2
      |FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin.replace('\n', ' ')

  // --- Q12: late-shipment counts split by order priority --------------

  private def q12(t: Tables): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t.lineitem
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .join(t.orders.select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  private val q12Sql =
    """SELECT l_returnflag,
      |CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      |AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace('\n', ' ')

  // --- Q14: promo revenue share (integer ratio of floored sums) -------

  private def q14(t: Tables): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    t.lineitem
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-07-01")))
      .join(t.part.select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        e2(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0)))).as("promo_e2"),
        e2(sum(rev)).as("total_e2"))
      .select(idiv(col("promo_e2") * lit(1000000L), col("total_e2")).as("promo_share_e6"))
  }

  private val q14Sql =
    """SELECT (CAST(FLOOR(SUM(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100) AS BIGINT) * 1000000)
      |// CAST(FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS promo_share_e6
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'""".stripMargin.replace('\n', ' ')

  // --- Q15: top supplier(s) by quarterly revenue (argmax with ties) ---

  private def q15(t: Tables): DataFrame = {
    val rev = t.lineitem
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .groupBy(col("l_suppkey"))
      .agg(e2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("total_rev_e2"))
    val mx = rev.agg(max(col("total_rev_e2")).as("mx"))
    rev.join(broadcast(mx), col("total_rev_e2") === col("mx"))
      .join(t.supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_e2"))
      .orderBy(col("s_suppkey"))
  }

  private val q15Sql =
    """WITH rev AS (SELECT l_suppkey, CAST(FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS total_rev_e2
      |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_rev_e2 FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev_e2 = (SELECT MAX(total_rev_e2) FROM rev) ORDER BY s_suppkey""".stripMargin.replace('\n', ' ')

  // --- Q16: distinct-supplier counts per part attribute ---------------

  private val q16Sizes = Seq(1, 4, 9, 14, 19, 23, 36, 45)

  private def q16(t: Tables): DataFrame =
    t.lineitem.select(col("l_partkey"), col("l_suppkey"))
      .join(t.part
          .filter(col("p_brand") =!= "Brand#21" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(q16Sizes: _*))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))

  private val q16Sql =
    """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#21' AND p_type <> 'PROMO' AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin.replace('\n', ' ')

  // --- Q17: small-quantity revenue (integer-exact 20%-of-avg test) ----

  private def q17(t: Tables): DataFrame = {
    // per-part stats over ALL lineitems (the TPC-H correlated subquery);
    // quantities are integral so 5·q·cnt < Σq is the exact integer form
    // of q < 0.2·avg — no float threshold ever sits on a boundary
    val stats = t.lineitem.groupBy(col("l_partkey").as("a_partkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).cast("long").as("sumq"))
    t.lineitem
      .join(t.part.filter(col("p_brand") === "Brand#13").select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(stats, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity").cast("long") * lit(5L) * col("cnt") < col("sumq"))
      .agg(e2(sum(col("l_extendedprice")) / lit(7)).as("avg_yearly_e2"),
        count(lit(1)).as("cnt"))
  }

  private val q17Sql =
    """WITH agg AS (SELECT l_partkey AS a_partkey, COUNT(*) AS cnt, CAST(SUM(l_quantity) AS BIGINT) AS sumq
      |FROM lineitem GROUP BY l_partkey)
      |SELECT CAST(FLOOR(SUM(l_extendedprice) / 7 * 100) AS BIGINT) AS avg_yearly_e2, COUNT(*) AS cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey JOIN agg ON l_partkey = a_partkey
      |WHERE p_brand = 'Brand#13' AND CAST(l_quantity AS BIGINT) * 5 * cnt < sumq""".stripMargin.replace('\n', ' ')

  // --- Q19: disjunctive brand/size/quantity predicate -----------------

  private def q19(t: Tables): DataFrame = {
    val pred =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 15)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) &&
        col("l_quantity").between(8, 25)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 25) &&
        col("l_quantity").between(15, 40))
    t.lineitem
      .join(t.part.select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .agg(e2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_e2"),
        count(lit(1)).as("cnt"))
  }

  private val q19Sql =
    """SELECT CAST(FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_e2, COUNT(*) AS cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
      |OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 8 AND 25)
      |OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 15 AND 40)""".stripMargin.replace('\n', ' ')

  // --- Q21: suppliers who alone held up a multi-supplier order --------

  private def q21(t: Tables): DataFrame = {
    val fo = t.orders.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = t.lineitem.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    // repartition by l_orderkey BEFORE the pair-distinct: the distinct's
    // ClusteredDistribution(l_orderkey, l_suppkey) is satisfied by the
    // orderkey-only partitioning (subset rule), and the downstream
    // semi/anti joins need exactly hashpartitioning(l_orderkey) — one
    // exchange per side instead of two
    val allSup = li.join(fo, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"))
      .repartition(col("l_orderkey")).distinct()
    val late = li.join(fo, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"))
      .repartition(col("l_orderkey")).distinct()
    val w = late.as("w")
    // EXISTS another supplier on the order … AND NOT EXISTS another LATE
    // supplier — the classic semi-then-anti chain on the same key
    val waiting = w
      .join(allSup.as("a"),
        col("w.l_orderkey") === col("a.l_orderkey") &&
          col("w.l_suppkey") =!= col("a.l_suppkey"), "left_semi")
      .join(late.as("l2"),
        col("w.l_orderkey") === col("l2.l_orderkey") &&
          col("w.l_suppkey") =!= col("l2.l_suppkey"), "left_anti")
    waiting.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(t.supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  private val q21Sql =
    """WITH fo AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
      |allsup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem JOIN fo ON l_orderkey = o_orderkey),
      |late AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem JOIN fo ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |SELECT s_name, COUNT(*) AS numwait FROM late w JOIN supplier ON w.l_suppkey = s_suppkey
      |WHERE EXISTS (SELECT 1 FROM allsup a WHERE a.l_orderkey = w.l_orderkey AND a.l_suppkey <> w.l_suppkey)
      |AND NOT EXISTS (SELECT 1 FROM late l2 WHERE l2.l_orderkey = w.l_orderkey AND l2.l_suppkey <> w.l_suppkey)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin.replace('\n', ' ')

  // --- Q22: well-funded customers idle since 2000 ---------------------

  private def q22(t: Tables): DataFrame = {
    // balances are cent-valued: per-row round-to-cents is exact, so the
    // above-average test is pure integer arithmetic (cents·n > Σcents)
    val cents = round(col("c_acctbal") * lit(100)).cast("long")
    val pos = t.customer.filter(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("np"), sum(cents).as("sp"))
    val recent = t.orders
      .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
      .select(col("o_custkey"))
    t.customer
      .crossJoin(broadcast(pos))
      .filter(cents * col("np") > col("sp"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), sum(cents).as("totacctbal_e2"))
      .orderBy(col("c_nationkey"))
  }

  private val q22Sql =
    """WITH pos AS (SELECT COUNT(*) AS np, SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS sp
      |FROM customer WHERE c_acctbal > 0),
      |recent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
      |SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, COUNT(*) AS numcust,
      |CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_e2
      |FROM customer CROSS JOIN pos
      |WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * np > sp
      |AND NOT EXISTS (SELECT 1 FROM recent WHERE o_custkey = c_custkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------

  val queries: Seq[Query] = Seq(
    Query("q04_priority", q04, q04Sql),
    Query("q07_volume", q07, q07Sql),
    Query("q08_share", q08, q08Sql),
    Query("q09_profit", q09, q09Sql),
    Query("q12_late", q12, q12Sql),
    Query("q14_promo", q14, q14Sql),
    Query("q15_topsupp", q15, q15Sql),
    Query("q16_partcnt", q16, q16Sql),
    Query("q17_smallqty", q17, q17Sql),
    Query("q19_orpred", q19, q19Sql),
    Query("q21_waiting", q21, q21Sql),
    Query("q22_idle", q22, q22Sql))
}
