package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic graphs derived from the driver's TPC-H-ish tables
  * (FIXTURES.md §B). Every builder has a `...Sql` twin — the *same*
  * derivation in ANSI SQL — so the DuckDB oracle replays the exact graph.
  * All weights are integral (float-free oracle matching).
  */
object TestGraphs {

  /** Namespace offset so supplier ids don't collide with customer ids.
    * Env-overridable (SPARK_GRAFT_SUPP_OFFSET) for large copied corpora
    * ONLY: 100 key-offset copies ([[TestCorpora.copies]]) push custkeys
    * past the 1e6 default and would alias vertices into the supplier
    * range, merging components; `copies` refuses such a build, and 1e9
    * makes it collision-free at any copy count (PLANS.md, "Round-12:
    * collision-free second decade"). Every builder and every *Sql oracle
    * twin reads this one val, so the Spark and DuckDB graphs stay
    * byte-identical under any override. Unset (the driver's
    * correctness/bench runs), the value is the historical 1e6. */
  val SuppOffset: Long = sys.env.get("SPARK_GRAFT_SUPP_OFFSET")
    .map(_.toLong).getOrElse(1000000L)

  /** Directed bipartite customer → supplier edges: one edge per
    * (customer, supplier) pair that co-occurs in an order; cnt = number of
    * lineitems, w = min integral quantity (≥ 1). */
  def custSupp(tb: Tables): DataFrame =
    tb.orders.join(tb.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("src"), (col("l_suppkey") + SuppOffset).as("dst"))
      .agg(count(lit(1)).as("cnt"), min(floor(col("l_quantity")).cast("long")).as("w"))

  val custSuppSql: String =
    s"""SELECT o_custkey AS src, l_suppkey + $SuppOffset AS dst,
       |COUNT(*) AS cnt, MIN(CAST(FLOOR(l_quantity) AS BIGINT)) AS w
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY 1, 2""".stripMargin.replace('\n', ' ')

  /** Symmetric (undirected) version of [[custSupp]]. The graph is
    * bipartite, so the union introduces no duplicate pairs. */
  def custSuppSym(tb: Tables): DataFrame = {
    val e = custSupp(tb)
    e.union(e.select(col("dst"), col("src"), col("cnt"), col("w")))
  }

  val custSuppSymSql: String =
    s"ce AS MATERIALIZED ($custSuppSql), e AS MATERIALIZED (SELECT src, dst, cnt, w FROM ce UNION ALL SELECT dst, src, cnt, w FROM ce)"

  /** Temporal (time-stamped) customer↔supplier edges: one edge per
    * distinct (customer, supplier, order day) — the time-respecting-path
    * fixture. t is integral epoch days, so temporal comparisons are
    * float-free in both engines. */
  def custSuppTemporal(tb: Tables): DataFrame = {
    val base = tb.orders.join(tb.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + SuppOffset).as("dst"),
        expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").cast("long").as("t"))
      .distinct()
    base.union(base.select(col("dst").as("src"), col("src").as("dst"), col("t")))
  }

  val custSuppTemporalSql: String =
    s"""ct AS MATERIALIZED (SELECT DISTINCT o_custkey AS src,
       |l_suppkey + $SuppOffset AS dst,
       |CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS t
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS MATERIALIZED (SELECT src, dst, t FROM ct UNION ALL SELECT dst, src, t FROM ct)""".stripMargin.replace('\n', ' ')

  /** Undirected supplier co-purchase pairs (u < v): suppliers that ship
    * the same part. Dense small-world graph for triangle/MIS queries. */
  def suppCoPairs(tb: Tables): DataFrame = {
    val li = tb.lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
    li.as("a").join(li.as("b"),
        col("a.l_partkey") === col("b.l_partkey") && col("a.l_suppkey") < col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .distinct()
  }

  val suppCoPairsSql: String =
    """SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) a
      |JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
      |ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey""".stripMargin.replace('\n', ' ')

  /** Undirected part co-purchase pairs (u < v): parts appearing in the
    * same ORDER (≤ 7 lineitems per order, so the per-key fanout is
    * bounded by construction). Unlike [[suppCoPairs]] — which is the
    * complete graph on suppliers at every sf — this one is genuinely
    * sparse (0.6–6% density) with a long support tail, so truss peeling
    * actually cascades. */
  def partCoPairs(tb: Tables): DataFrame = {
    val li = tb.lineitem.select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
  }

  val partCoPairsSql: String =
    """SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |FROM lineitem a JOIN lineitem b
      |ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""".stripMargin.replace('\n', ' ')

  /** Both-direction edge frame of [[suppCoPairs]] (for propagation algos). */
  def suppCoSym(tb: Tables): DataFrame = {
    val p = suppCoPairs(tb)
    p.select(col("u").as("src"), col("v").as("dst"))
      .union(p.select(col("v").as("src"), col("u").as("dst")))
  }

  val suppCoSymSql: String =
    s"cp AS MATERIALIZED ($suppCoPairsSql), e AS MATERIALIZED (SELECT u AS src, v AS dst FROM cp UNION ALL SELECT v AS src, u AS dst FROM cp)"

  /** Per-user event chains: consecutive events (by ts, event_id) of the
    * same user. Path-heavy graph exercising WCC at bench scale
    * (FIXTURES.md §B recipe 5). */
  def eventChain(tb: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    tb.events
      .select(col("event_id").as("src"), lead(col("event_id"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
  }

  val eventChainSql: String =
    """SELECT src, dst FROM (
      |SELECT event_id AS src,
      |LEAD(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |FROM events) t WHERE dst IS NOT NULL""".stripMargin.replace('\n', ' ')

  /** Deterministic directed functional graph over suppliers (0-based keys):
    * s → (3s+1) mod n and s → (s+7) mod n. Contains nontrivial cycles —
    * the SCC fixture. */
  def suppRing(tb: Tables): DataFrame = {
    val n = tb.supplier.count()
    tb.supplier.select(col("s_suppkey").as("src"), ((col("s_suppkey") * 3 + 1) % n).as("dst"))
      .union(tb.supplier.select(col("s_suppkey").as("src"), ((col("s_suppkey") + 7) % n).as("dst")))
      .filter(col("src") =!= col("dst"))
  }

  /** Mixed wait-for graph: customer→supplier dependencies plus the
    * supplier-id ring (vertex ids 0..n-1 deliberately collide with the
    * low customer ids, so those customers both wait on suppliers and on
    * each other in cycles) — the deadlock-detection fixture. */
  def waitFor(tb: Tables): DataFrame =
    custSupp(tb).select("src", "dst").union(suppRing(tb))

  def waitForSql: String =
    s"e AS MATERIALIZED (SELECT src, dst FROM ($custSuppSql) t1 UNION ALL SELECT src, dst FROM ($suppRingSql) t2)"

  val suppRingSql: String =
    """SELECT src, dst FROM (
      |SELECT s_suppkey AS src, (s_suppkey * 3 + 1) % (SELECT COUNT(*) FROM supplier) AS dst FROM supplier
      |UNION ALL
      |SELECT s_suppkey AS src, (s_suppkey + 7) % (SELECT COUNT(*) FROM supplier) AS dst FROM supplier
      |) t WHERE src <> dst""".stripMargin.replace('\n', ' ')

  /** Tagged wait-for graph (N-of-M requests) — the Bracha-Toueg fixture:
    *  - suppliers with s % 7 = 0 hold no locks (sinks — they can grant);
    *  - "pocket" suppliers (s % 4 = 1, non-sink) wait ONLY on the next
    *    pocket member, single tag, closing a pure cycle — deadlocked by
    *    construction (no request of theirs can ever be satisfied);
    *  - every other supplier waits on its two ring successors, each
    *    under its OWN tag (OR semantics: either grant frees it);
    *  - customers wait on their suppliers grouped by tag = supplier % 3
    *    (every supplier in a tag group must grant — N-of-M), so a
    *    customer is free iff some tag group avoids the pocket entirely.
    * Duplicate (src, dst) pairs keep the minimum tag (one edge = one
    * request, as in the reference's per-target edge map). The three edge
    * families have disjoint src spaces (customers < SuppOffset; pocket
    * srcs are s%4=1, ring srcs aren't) and each is (src, dst)-unique, so
    * the only possible duplicate is ring tag 0 vs tag 1 landing on the
    * same dst — resolved by filtering that case out of the tag-1 branch
    * instead of a group-min over the whole union (one fewer full-frame
    * shuffle; same rows as the oracle's GROUP BY MIN(tag)). */
  def taggedWaitFor(tb: Tables): DataFrame = {
    val n = tb.supplier.count()
    val nonSink = tb.supplier.filter(col("s_suppkey") % 7 =!= 0).select(col("s_suppkey"))
    val s = nonSink.filter(col("s_suppkey") % 4 =!= 1)
    val ring = s.select((col("s_suppkey") + SuppOffset).as("src"),
        (((col("s_suppkey") * 3 + 1) % n) + SuppOffset).as("dst"), lit(0L).as("tag"))
      .union(s
        .filter((col("s_suppkey") * 3 + 1) % n =!= (col("s_suppkey") + 7) % n)
        .select((col("s_suppkey") + SuppOffset).as("src"),
          (((col("s_suppkey") + 7) % n) + SuppOffset).as("dst"), lit(1L).as("tag")))
      .filter(col("src") =!= col("dst"))
    // pocket cycle: each member waits on the next by key (wrap to min).
    // A single-partition window is fine size-wise (the pocket is
    // O(#suppliers/4) rows); partitioning by the non-foldable constant
    // s_suppkey % 1 (a literal lit(1) key gets constant-folded away)
    // keeps WindowExec's no-partition warning out of bench logs so real
    // regressions stay visible.
    val wOrd = Window.partitionBy(pmod(col("s_suppkey"), lit(1))).orderBy(col("s_suppkey"))
    val wAll = Window.partitionBy(pmod(col("s_suppkey"), lit(1)))
    val pocket = nonSink.filter(col("s_suppkey") % 4 === 1)
      .select(col("s_suppkey"),
        coalesce(lead(col("s_suppkey"), 1).over(wOrd),
          min(col("s_suppkey")).over(wAll)).as("nxt"))
      .filter(col("s_suppkey") =!= col("nxt"))
      .select((col("s_suppkey") + SuppOffset).as("src"),
        (col("nxt") + SuppOffset).as("dst"), lit(0L).as("tag"))
    val cust = custSupp(tb).select(col("src"), col("dst"), (col("dst") % 3).as("tag"))
    ring.union(pocket).union(cust)
  }

  val taggedWaitForSql: String = {
    val n = "(SELECT COUNT(*) FROM supplier)"
    s"""e AS MATERIALIZED (SELECT src, dst, MIN(tag) AS tag FROM (
       |SELECT s_suppkey + $SuppOffset AS src, ((s_suppkey * 3 + 1) % $n) + $SuppOffset AS dst, 0 AS tag
       |FROM supplier WHERE s_suppkey % 7 <> 0 AND s_suppkey % 4 <> 1 AND s_suppkey <> (s_suppkey * 3 + 1) % $n
       |UNION ALL
       |SELECT s_suppkey + $SuppOffset, ((s_suppkey + 7) % $n) + $SuppOffset, 1
       |FROM supplier WHERE s_suppkey % 7 <> 0 AND s_suppkey % 4 <> 1 AND s_suppkey <> (s_suppkey + 7) % $n
       |UNION ALL
       |SELECT k + $SuppOffset, nxt + $SuppOffset, 0 FROM (
       |SELECT s_suppkey AS k, COALESCE(LEAD(s_suppkey) OVER (ORDER BY s_suppkey),
       |MIN(s_suppkey) OVER ()) AS nxt FROM supplier
       |WHERE s_suppkey % 7 <> 0 AND s_suppkey % 4 = 1) p WHERE k <> nxt
       |UNION ALL
       |SELECT src, dst, dst % 3 FROM ($custSuppSql) cs
       |) t GROUP BY src, dst)""".stripMargin.replace('\n', ' ')
  }
}
