package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.owned

/** Round-6 second-wave event/ops analytics: rolling distinct windows,
  * sweep-line concurrency, distributional audits (Benford), changepoint
  * detection (CUSUM), calendar heatmaps and SAX symbolization.
  *
  * Same discipline as [[Queries]]: every output column is integral
  * (floor-scaled where a ratio is reported), every query ends in an
  * ORDER BY on its keys, and each entry has a DuckDB oracle twin that
  * replays the identical integer arithmetic (`ts` is BIGINT epoch-µs on
  * the Spark side / `epoch_us(ts)` on the oracle side — see
  * [[Tables.events]]).
  */
object AnalyticsQueries {

  private val DayUs  = 86400000000L
  private val HourUs = 3600000000L

  // ------------------------------------------------------------------
  // q_trailing_dau — trailing-7-day distinct users per day
  // ------------------------------------------------------------------

  /** Rolling 7-day distinct-user counts. The scale identity: dedup to
    * (user, day) FIRST (map-side partial agg collapses the per-user
    * event stream), then fan each user-day out to the ≤ 7 report days it
    * supports — the expansion is bounded 7×|user-days|, never
    * 7×|events|, and the final count-distinct is an ordinary two-phase
    * agg on (report_day, user). No running distinct state, no
    * self-join of the raw event log. Reference anchor: the reference's
    * windowed-aggregate superstep pattern
    * (giraph-core/src/main/java/org/apache/giraph/aggregators — here a
    * declarative two-agg pipeline Catalyst can push partials through. */
  private def qTrailingDau(t: Tables): DataFrame = {
    val userDay = t.events
      .select(expr(s"ts div $DayUs").as("day"), col("user_id")).distinct()
    val dau1 = userDay.groupBy(col("day"))
      .agg(count(lit(1)).as("dau_1d"))
    val dau7 = userDay
      .select(explode(sequence(col("day"), col("day") + lit(6L))).as("report_day"),
        col("user_id"))
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("dau_7d"))
    // report only days that actually occur (the leading 6 phantom days a
    // pure fan-out would invent are clipped by the inner join)
    dau1.join(dau7, col("day") === col("report_day"))
      .select(col("day"), col("dau_1d"), col("dau_7d"),
        expr("(dau_1d * 1000000) div dau_7d").as("stickiness_e6"))
      .orderBy(col("day"))
  }

  private val qTrailingDauSql =
    s"""WITH ud AS (SELECT DISTINCT epoch_us(ts) // $DayUs AS day, user_id FROM events),
       |d1 AS (SELECT day, COUNT(*) AS dau_1d FROM ud GROUP BY 1),
       |ex AS (SELECT day + k AS report_day, user_id FROM ud CROSS JOIN range(0, 7) t(k)),
       |d7 AS (SELECT report_day, COUNT(DISTINCT user_id) AS dau_7d FROM ex GROUP BY 1)
       |SELECT day, dau_1d, dau_7d,
       |(dau_1d * 1000000) // dau_7d AS stickiness_e6
       |FROM d1 JOIN d7 ON day = report_day
       |ORDER BY day""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_peak_concurrency — sweep-line max concurrent sessions
  // ------------------------------------------------------------------

  /** Peak concurrent sessions via the classic sweep-line: sessionize
    * (same 30-min-gap rule as q_sessions), emit +1 at each session start
    * and -1 one µs past its end, collapse same-instant deltas, and take
    * the running sum. The curve lives on session BOUNDARIES (2 rows per
    * session, ≪ events) but a per-session frame is still data-sized at
    * warehouse scale, so the cumulative sum IS the two-pass
    * range-partitioned prefix sum ([[graft.operators.DistributedRank]]:
    * per-partition running sum + broadcast partition offsets — handles
    * the negative −1 deltas via per-partition value totals). Top-10
    * ties broken by earliest instant. */
  private def qPeakConcurrency(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = t.events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("ts") - col("prev") > lit(1800000000L), 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    val deltas = sess.select(col("st").as("b_ts"), lit(1L).as("delta"))
      .unionAll(sess.select((col("en") + lit(1L)).as("b_ts"), lit(-1L).as("delta")))
      .groupBy(col("b_ts")).agg(sum(col("delta")).as("d"))
    graft.operators.DistributedRank.withRankAndCumSum(deltas,
        Seq(col("b_ts")), "__rn", Some((col("d"), "conc")))
      .select(col("b_ts").as("ts"), col("conc"))
      .orderBy(col("conc").desc, col("ts")).limit(10)
      .orderBy(col("conc").desc, col("ts"))
  }

  private val qPeakConcurrencySql =
    """WITH l AS (SELECT user_id, epoch_us(ts) AS us, event_id,
      |LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |FROM events),
      |m AS (SELECT user_id, us,
      |SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END)
      |OVER (PARTITION BY user_id ORDER BY us, event_id
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM l),
      |sess AS (SELECT user_id, sid, MIN(us) AS st, MAX(us) AS en
      |FROM m GROUP BY 1, 2),
      |bd AS (SELECT b_ts, CAST(SUM(delta) AS BIGINT) AS d FROM (
      |SELECT st AS b_ts, 1 AS delta FROM sess
      |UNION ALL SELECT en + 1 AS b_ts, -1 AS delta FROM sess) z GROUP BY 1),
      |curve AS (SELECT b_ts AS ts, CAST(SUM(d) OVER (ORDER BY b_ts
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc FROM bd)
      |SELECT ts, conc FROM curve
      |ORDER BY conc DESC, ts LIMIT 10""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_benford — first-significant-digit audit of order totals
  // ------------------------------------------------------------------

  /** Expected Benford mass floor(log10(1+1/d)·10⁶), computed ONCE here
    * and spliced as literals into BOTH engines' plans — identical by
    * construction, zero runtime libm on either side (the
    * [[graft.multimodal.Multimodal]] phashCoef pattern). */
  val benfordE6: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong)

  /** First-significant-digit distribution of o_totalprice vs Benford's
    * law — the classic at-scale data-quality / fraud sweep. The digit is
    * extracted from the INTEGER cents (decimal-string head of a BIGINT
    * is engine-exact; double→string is not), the law's irrational masses
    * enter as shared literals, and the deviation is an integer
    * difference of e6 masses. One groupBy(9 rows) + one broadcast join. */
  private def qBenford(t: Tables): DataFrame = {
    val law = t.spark.createDataFrame(benfordE6).toDF("digit", "benford_e6")
    val counts = t.orders
      .select(floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .withColumn("digit",
        substring(col("cents").cast("string"), 1, 1).cast("int"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy()).cast("long"))
      .join(broadcast(law), "digit")
      .select(col("digit"), col("cnt"),
        expr("(cnt * 1000000) div total").as("pct_e6"),
        col("benford_e6"),
        expr("abs((cnt * 1000000) div total - benford_e6)").as("dev_e6"))
      .orderBy(col("digit"))
  }

  private val qBenfordSql = {
    val lawRows = benfordE6.map { case (d, m) => s"($d, $m)" }.mkString(", ")
    s"""WITH c AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
       |FROM (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
       |WHERE cents > 0),
       |g AS (SELECT digit, COUNT(*) AS cnt FROM c GROUP BY 1),
       |t AS (SELECT digit, cnt, CAST(SUM(cnt) OVER () AS BIGINT) AS total FROM g),
       |law AS (SELECT * FROM (VALUES $lawRows) v(digit, benford_e6))
       |SELECT t.digit, cnt, (cnt * 1000000) // total AS pct_e6,
       |CAST(benford_e6 AS BIGINT) AS benford_e6,
       |abs((cnt * 1000000) // total - benford_e6) AS dev_e6
       |FROM t JOIN law ON law.digit = t.digit
       |ORDER BY t.digit""".stripMargin.replace('\n', ' ')
  }

  // ------------------------------------------------------------------
  // q_changepoint_cusum — integer CUSUM over the daily event counts
  // ------------------------------------------------------------------

  /** CUSUM changepoint scan on the daily event-count series. The usual
    * Σ(xᵢ − μ) is kept integral by scaling through the day count:
    * cusum_t = Σ_{i≤t} (cnt_i·D − total) — same extremum structure,
    * zero division. The peak |cusum| day is the single best split point
    * (max mean-shift evidence). Day frame is tiny (one row per day), so
    * the global window is free; the heavy lift is the one groupBy over
    * events, which is a plain two-phase count. */
  private def qChangepointCusum(t: Tables): DataFrame = {
    val daily = t.events.groupBy(expr(s"ts div $DayUs").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val tot = daily.agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("total"))
    val cum = daily.crossJoin(broadcast(tot))
      .withColumn("cusum",
        sum(col("cnt") * col("n_days") - col("total"))
          .over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
    cum
      .withColumn("max_abs", max(abs(col("cusum"))).over(Window.partitionBy()))
      .select(col("day"), col("cnt"), col("cusum"),
        when(abs(col("cusum")) === col("max_abs"), 1).otherwise(0).cast("int").as("is_peak"))
      .orderBy(col("day"))
  }

  private val qChangepointCusumSql =
    s"""WITH daily AS (SELECT epoch_us(ts) // $DayUs AS day, COUNT(*) AS cnt
       |FROM events GROUP BY 1),
       |t AS (SELECT COUNT(*) AS n_days, CAST(SUM(cnt) AS BIGINT) AS total FROM daily),
       |c AS (SELECT day, cnt,
       |CAST(SUM(cnt * n_days - total) OVER (ORDER BY day
       |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum
       |FROM daily CROSS JOIN t)
       |SELECT day, cnt, cusum,
       |CASE WHEN abs(cusum) = MAX(abs(cusum)) OVER () THEN 1 ELSE 0 END AS is_peak
       |FROM c ORDER BY day""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_hourly_heatmap — day-of-week × hour-of-day activity grid
  // ------------------------------------------------------------------

  /** The (dow, hour) traffic heatmap, computed entirely in integral
    * epoch arithmetic: dow = (day+4) mod 7 (1970-01-01 was a Thursday),
    * hour = µs-hour mod 24 — no calendar/timezone functions on either
    * engine, so the grid is bit-identical by construction. pct within
    * each dow row is the floor-scaled share. ≤ 168 output rows whatever
    * the input size; one groupBy. */
  private def qHourlyHeatmap(t: Tables): DataFrame =
    t.events
      .select(expr(s"((ts div $DayUs) + 4) % 7").as("dow"),
        expr(s"(ts div $HourUs) % 24").as("hour"))
      .groupBy(col("dow"), col("hour")).agg(count(lit(1)).as("cnt"))
      .withColumn("dow_total",
        sum(col("cnt")).over(Window.partitionBy(col("dow"))).cast("long"))
      .select(col("dow"), col("hour"), col("cnt"),
        expr("(cnt * 1000000) div dow_total").as("pct_dow_e6"))
      .orderBy(col("dow"), col("hour"))

  private val qHourlyHeatmapSql =
    s"""WITH g AS (SELECT (epoch_us(ts) // $DayUs + 4) % 7 AS dow,
       |(epoch_us(ts) // $HourUs) % 24 AS hour, COUNT(*) AS cnt
       |FROM events GROUP BY 1, 2)
       |SELECT dow, hour, cnt,
       |(cnt * 1000000) // CAST(SUM(cnt) OVER (PARTITION BY dow) AS BIGINT) AS pct_dow_e6
       |FROM g ORDER BY dow, hour""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_sax_symbols — SAX-style symbolization of the weekly volume series
  // ------------------------------------------------------------------

  /** Piecewise-aggregate + quartile symbolization (SAX without the
    * Gaussian breakpoints — quartiles keep it distribution-free AND
    * engine-exact): the daily count series is pooled into calendar weeks
    * (PAA), and each week is assigned its volume quartile 1..4 by
    * NTILE over the unique (wsum, week) order. The discretized string is
    * what a motif/anomaly miner consumes downstream. Week frame is tiny;
    * the only big pass is the daily groupBy. */
  private def qSaxSymbols(t: Tables): DataFrame = {
    val weekly = t.events
      .groupBy(expr(s"(ts div $DayUs) div 7").as("week"))
      .agg(count(lit(1)).as("wsum"),
        countDistinct(expr(s"ts div $DayUs")).as("ndays"))
    weekly
      .withColumn("sym",
        ntile(4).over(Window.orderBy(col("wsum"), col("week"))).cast("int"))
      .orderBy(col("week"))
  }

  private val qSaxSymbolsSql =
    s"""WITH weekly AS (SELECT (epoch_us(ts) // $DayUs) // 7 AS week,
       |COUNT(*) AS wsum, COUNT(DISTINCT epoch_us(ts) // $DayUs) AS ndays
       |FROM events GROUP BY 1)
       |SELECT week, wsum, ndays,
       |CAST(NTILE(4) OVER (ORDER BY wsum, week) AS INT) AS sym
       |FROM weekly ORDER BY week""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // graph-structure panels (rich club / local bridges / joint degrees)
  // on the sparse part-copurchase fixture
  // ------------------------------------------------------------------

  private val RichClubKs = Seq(1L, 2L, 4L, 8L, 16L, 32L)

  /** [[graft.graph.Algos.richClub]] over part co-purchase pairs. */
  private def qRichClub(t: Tables): DataFrame =
    graph.Algos.richClub(TestGraphs.partCoPairs(t), RichClubKs)
      .orderBy(col("k"))

  private val qRichClubSql = {
    val ks = RichClubKs.map(k => s"($k)").mkString(", ")
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |deg AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM (
       |SELECT u AS id FROM cp UNION ALL SELECT v AS id FROM cp) z GROUP BY 1),
       |ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES $ks) t(k)),
       |ek AS (SELECT k, COUNT(*) AS e_k FROM cp
       |JOIN deg a ON a.id = cp.u JOIN deg b ON b.id = cp.v
       |CROSS JOIN ks WHERE a.d > k AND b.d > k GROUP BY 1),
       |nk AS (SELECT k, COUNT(*) AS n_k FROM deg CROSS JOIN ks
       |WHERE d > k GROUP BY 1)
       |SELECT k, n_k, COALESCE(e_k, 0) AS e_k,
       |CASE WHEN n_k >= 2 THEN (COALESCE(e_k, 0) * 2000000) // (n_k * (n_k - 1))
       |ELSE CAST(0 AS BIGINT) END AS phi_e6
       |FROM nk LEFT JOIN ek USING (k) ORDER BY k""".stripMargin.replace('\n', ' ')
  }

  /** [[graft.graph.Algos.localBridgeStats]]: support-0 (no common
    * neighbor) edge census. Oracle finds triangle edges by the direct
    * wedge join — an INDEPENDENT formulation of "has a common
    * neighbor", so support bookkeeping bugs can't self-confirm. */
  private def qLocalBridges(t: Tables): DataFrame =
    graph.Algos.localBridgeStats(TestGraphs.partCoPairs(t))

  private val qLocalBridgesSql =
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM cp
       |UNION ALL SELECT v AS a, u AS b FROM cp),
       |tri AS (SELECT DISTINCT cp.u AS u, cp.v AS v FROM cp
       |JOIN adj x ON x.a = cp.u JOIN adj y ON y.a = cp.v AND y.b = x.b),
       |tot AS (SELECT COUNT(*) AS n_edges FROM cp),
       |te AS (SELECT COUNT(*) AS n_tri_edges FROM tri)
       |SELECT n_edges, n_edges - n_tri_edges AS n_bridges,
       |((n_edges - n_tri_edges) * 1000000) // n_edges AS pct_e6
       |FROM tot CROSS JOIN te""".stripMargin.replace('\n', ' ')

  /** [[graft.graph.Algos.jointDegreeMatrix]] in log₂ buckets. */
  private def qDegreeMatrix(t: Tables): DataFrame =
    graph.Algos.jointDegreeMatrix(TestGraphs.partCoPairs(t))
      .orderBy(col("b_lo"), col("b_hi"))

  private val qDegreeMatrixSql =
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |deg AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM (
       |SELECT u AS id FROM cp UNION ALL SELECT v AS id FROM cp) z GROUP BY 1),
       |b AS (SELECT
       |least(length(bin(a.d)) - 1, length(bin(b2.d)) - 1) AS b_lo,
       |greatest(length(bin(a.d)) - 1, length(bin(b2.d)) - 1) AS b_hi
       |FROM cp JOIN deg a ON a.id = cp.u JOIN deg b2 ON b2.id = cp.v)
       |SELECT CAST(b_lo AS BIGINT) AS b_lo, CAST(b_hi AS BIGINT) AS b_hi,
       |COUNT(*) AS cnt FROM b GROUP BY 1, 2
       |ORDER BY b_lo, b_hi""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_text_heaps — Heaps'-law vocabulary growth curve
  // ------------------------------------------------------------------

  /** Vocabulary-growth (Heaps' law) curve over doc-id-ordered batches of
    * 50 documents: cumulative token count vs cumulative distinct-type
    * count per batch. The scale identity is the same one q_cumulative_
    * users exploits: each TYPE collapses to its first-seen batch (one
    * min-agg), so "distinct types to date" is a running sum of
    * first-occurrence counts — never a growing distinct state. */
  private def qTextHeaps(t: Tables): DataFrame = {
    val toks = t.documents
      .select(expr("doc_id div 50").as("b"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
    val perB = toks.groupBy(col("b")).agg(count(lit(1)).as("n_toks"))
    val firstB = toks.groupBy(col("token")).agg(min(col("b")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perB.join(firstB, Seq("b"), "left")
      .select(col("b"), col("n_toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum(col("n_toks")).over(w).cast("long"))
      .withColumn("cum_types", sum(col("new_types")).over(w).cast("long"))
      .orderBy(col("b"))
  }

  private val qTextHeapsSql =
    """WITH toks AS MATERIALIZED (SELECT doc_id // 50 AS b,
      |unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
      |pb AS (SELECT b, COUNT(*) AS n_toks FROM toks GROUP BY 1),
      |fb AS (SELECT b, COUNT(*) AS new_types FROM (
      |SELECT token, MIN(b) AS b FROM toks GROUP BY 1) f GROUP BY 1)
      |SELECT pb.b AS b, n_toks, COALESCE(new_types, 0) AS new_types,
      |CAST(SUM(n_toks) OVER (ORDER BY pb.b
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY pb.b
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
      |FROM pb LEFT JOIN fb ON pb.b = fb.b ORDER BY pb.b""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_2hop — exact 2-hop reach of the highest-degree vertices
  // ------------------------------------------------------------------

  /** Exact ≤2-hop distinct reach for the 20 highest-degree vertices of
    * the customer–supplier graph — the friends-of-friends panel
    * (reference analogue: the 2-superstep neighbor-exchange pattern of
    * giraph-examples' triangle closing). The expansion is seeded from
    * ONLY the 20 sources (semi-join before the hop join), so the
    * wedge work is 20 adjacency lists, not the whole graph's. */
  private def qTwoHop(t: Tables): DataFrame = {
    val e = TestGraphs.custSuppSym(t).select(col("src"), col("dst"))
      .localCheckpoint()
    val top = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("id")).limit(20)
    val h1 = e.join(broadcast(top.select(col("id"))), col("src") === col("id"))
      .select(col("id"), col("dst").as("n"))
    val h2 = h1.join(e, h1("n") === e("src"))
      .select(col("id"), col("dst").as("n"))
    val reach = h1.unionByName(h2)
      .filter(col("n") =!= col("id")).distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("n_reach2"))
    val hop1 = h1.filter(col("n") =!= col("id")).distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("n_reach1"))
    top.join(hop1, Seq("id")).join(reach, Seq("id"))
      .select(col("id"), col("deg"), col("n_reach1"), col("n_reach2"))
      .orderBy(col("deg").desc, col("id"))
  }

  private val qTwoHopSql =
    s"""WITH ${TestGraphs.custSuppSymSql},
       |top AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY 1
       |ORDER BY deg DESC, id LIMIT 20),
       |h1 AS MATERIALIZED (SELECT t.id, e.dst AS n FROM e
       |JOIN top t ON e.src = t.id),
       |h2 AS (SELECT h1.id, e.dst AS n FROM h1 JOIN e ON h1.n = e.src),
       |r2 AS (SELECT id, COUNT(*) AS n_reach2 FROM (
       |SELECT DISTINCT id, n FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2) u
       |WHERE n <> id) z GROUP BY 1),
       |r1 AS (SELECT id, COUNT(*) AS n_reach1 FROM (
       |SELECT DISTINCT id, n FROM h1 WHERE n <> id) z1 GROUP BY 1)
       |SELECT top.id, deg, n_reach1, n_reach2 FROM top
       |JOIN r1 ON r1.id = top.id JOIN r2 ON r2.id = top.id
       |ORDER BY deg DESC, top.id""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_fulfillment_lag — ship-vs-order lag panel per order priority
  // ------------------------------------------------------------------

  /** Order-to-ship lag distribution per priority class, in integral
    * days. The mean is reported over lags SHIFTED by +2400 days (the
    * silhouette discipline: a lag can be negative in this corpus, and
    * truncating `div` and flooring `//` agree only on non-negative
    * operands — the constant shift is lossless to compare). The
    * negative-lag count doubles as the ships-before-ordered DQ alarm. */
  private def qFulfillmentLag(t: Tables): DataFrame =
    t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        expr("datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE))")
          .cast("long").as("lag"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        min(col("lag")).as("min_lag"), max(col("lag")).as("max_lag"),
        sum(when(col("lag") < 0, 1L).otherwise(0L)).cast("long").as("n_negative"),
        sum(col("lag") + lit(2400L)).cast("long").as("sum_shift"))
      .select(col("o_orderpriority"), col("n"), col("min_lag"), col("max_lag"),
        col("n_negative"),
        expr("(sum_shift * 1000000) div n").as("mean_shift_e6"))
      .orderBy(col("o_orderpriority"))

  private val qFulfillmentLagSql =
    """WITH l AS (SELECT o_orderpriority,
      |CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT) AS lag
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |g AS (SELECT o_orderpriority, COUNT(*) AS n,
      |MIN(lag) AS min_lag, MAX(lag) AS max_lag,
      |CAST(SUM(CASE WHEN lag < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
      |CAST(SUM(lag + 2400) AS BIGINT) AS sum_shift
      |FROM l GROUP BY 1)
      |SELECT o_orderpriority, n, min_lag, max_lag, n_negative,
      |(sum_shift * 1000000) // n AS mean_shift_e6
      |FROM g ORDER BY o_orderpriority""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_hhi — Herfindahl–Hirschman supplier concentration per nation
  // ------------------------------------------------------------------

  /** Market-concentration audit: per supplier nation, the HHI of
    * supplier revenue shares. Revenue is floored to integer cents at
    * the LINEITEM granularity (one floor, then integer sums — the
    * [[graft.sql.Exact]] rule applied before aggregation, so engine
    * summation order can't matter), shares are e6 floor divisions, and
    * HHI = Σ share² lands on the e12 scale. Two aggregations plus a
    * broadcast-sized nation join. */
  private def qHhi(t: Tables): DataFrame = {
    val rev = t.lineitem
      .select(col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("cents"))
      .groupBy(col("l_suppkey")).agg(sum(col("cents")).cast("long").as("rev"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
    rev
      .withColumn("total",
        sum(col("rev")).over(Window.partitionBy(col("s_nationkey"))).cast("long"))
      .withColumn("share_e6", expr("(rev * 1000000) div total"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("share_e6") * col("share_e6")).cast("long").as("hhi_e12"),
        max(col("share_e6")).as("top_share_e6"))
      .orderBy(col("s_nationkey"))
  }

  private val qHhiSql =
    """WITH rev AS (SELECT l_suppkey, CAST(SUM(cents) AS BIGINT) AS rev FROM (
      |SELECT l_suppkey,
      |CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
      |FROM lineitem) li GROUP BY 1),
      |j AS (SELECT s_nationkey, rev,
      |CAST(SUM(rev) OVER (PARTITION BY s_nationkey) AS BIGINT) AS total
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey),
      |sh AS (SELECT s_nationkey, (rev * 1000000) // total AS share_e6 FROM j)
      |SELECT s_nationkey, COUNT(*) AS n_suppliers,
      |CAST(SUM(share_e6 * share_e6) AS BIGINT) AS hhi_e12,
      |MAX(share_e6) AS top_share_e6
      |FROM sh GROUP BY 1 ORDER BY s_nationkey""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_peel — leaf-trimming depth profile
  // ------------------------------------------------------------------

  private val PeelRounds = 6

  /** [[graft.graph.Algos.leafPeelCounts]] over the symmetric
    * customer–supplier graph: 6 fixed peel rounds, oracle unrolled. */
  private def qGraphPeel(t: Tables): DataFrame =
    graph.Algos.leafPeelCounts(
      TestGraphs.custSuppSym(t).select("src", "dst"), PeelRounds)
      .orderBy(col("round"))

  private val qGraphPeelSql = {
    val rounds = (1 to PeelRounds).map { r =>
      s"""d$r AS (SELECT src AS id, COUNT(*) AS d FROM e${r - 1} GROUP BY 1),
         |p$r AS MATERIALIZED (SELECT v.id FROM v${r - 1} v
         |LEFT JOIN d$r d ON d.id = v.id WHERE COALESCE(d.d, 0) <= 1),
         |v$r AS MATERIALIZED (SELECT id FROM v${r - 1}
         |WHERE id NOT IN (SELECT id FROM p$r)),
         |e$r AS MATERIALIZED (SELECT src, dst FROM e${r - 1}
         |WHERE src NOT IN (SELECT id FROM p$r)
         |AND dst NOT IN (SELECT id FROM p$r))""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    val unions = (1 to PeelRounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, CAST(COUNT(*) AS BIGINT) AS n_vertices FROM p$r")
      .mkString(" UNION ALL ")
    s"""WITH ${TestGraphs.custSuppSymSql},
       |v0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
       |e0 AS MATERIALIZED (SELECT src, dst FROM e),
       |$rounds
       |SELECT round, n_vertices FROM (
       |$unions
       |UNION ALL SELECT CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT) FROM v$PeelRounds) z
       |ORDER BY round""".stripMargin.replace('\n', ' ')
  }

  // ------------------------------------------------------------------
  // q_graph_transitivity — global clustering (closed-wedge ratio)
  // ------------------------------------------------------------------

  /** Global transitivity 3·triangles / wedges over the part co-purchase
    * graph — the corpus-level companion to the per-vertex
    * q_graph_clustering (an average of local ratios and the global
    * closed-wedge share are DIFFERENT statistics; hub-heavy graphs pull
    * them apart). Wedges come from one degree aggregation
    * (Σ d·(d−1)/2, exact — consecutive integers make the product even);
    * triangles from [[graft.graph.Algos.triangleCount]]'s oriented
    * intersection. The oracle counts triangles by the independent
    * 3-way-join formulation. */
  private def qTransitivity(t: Tables): DataFrame = {
    val p = TestGraphs.partCoPairs(t).localCheckpoint()
    val tri = graph.Algos.triangleCount(p)
    val wedges = p.select(col("u").as("id")).union(p.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .agg(sum(expr("(d * (d - 1)) div 2")).cast("long").as("n_wedges"))
    wedges.crossJoin(tri)
      .select(col("n_wedges"), col("triangles"),
        expr("(3 * triangles * 1000000) div n_wedges").as("transitivity_e6"))
  }

  private val qTransitivitySql =
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |t AS (SELECT COUNT(*) AS triangles FROM cp a
       |JOIN cp b ON b.u = a.u AND b.v > a.v
       |JOIN cp c ON c.u = a.v AND c.v = b.v),
       |deg AS (SELECT id, COUNT(*) AS d FROM (
       |SELECT u AS id FROM cp UNION ALL SELECT v AS id FROM cp) z GROUP BY 1),
       |w AS (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg)
       |SELECT n_wedges, triangles,
       |(3 * triangles * 1000000) // n_wedges AS transitivity_e6
       |FROM w CROSS JOIN t""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_audience_overlap — event-type audience Jaccard matrix
  // ------------------------------------------------------------------

  /** Audience overlap between event types: for every type pair, the
    * exact Jaccard of their user sets — the segment-overlap matrix a
    * growth team reads daily. Dedup to (type, user) FIRST (the
    * trailing-DAU identity), then one self-join keyed on user; with T
    * types the per-user fanout is ≤ T², a constant. */
  private def qAudienceOverlap(t: Tables): DataFrame = {
    val tu = t.events
      .select(col("event_type"), col("user_id")).distinct().localCheckpoint()
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val inter = tu.as("a").join(tu.as("b"),
        col("a.user_id") === col("b.user_id")
          && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("event_type").as("t1"), col("n").as("n1")), Seq("t1"))
      .join(sizes.select(col("event_type").as("t2"), col("n").as("n2")), Seq("t2"))
      .select(col("t1"), col("t2"), col("n1"), col("n2"), col("n_common"),
        expr("(n_common * 1000000) div (n1 + n2 - n_common)").as("jaccard_e6"))
      .orderBy(col("t1"), col("t2"))
  }

  private val qAudienceOverlapSql =
    """WITH tu AS MATERIALIZED (SELECT DISTINCT event_type, user_id FROM events),
      |sz AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1),
      |iv AS (SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_common
      |FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2)
      |SELECT t1, t2, s1.n AS n1, s2.n AS n2, n_common,
      |(n_common * 1000000) // (s1.n + s2.n - n_common) AS jaccard_e6
      |FROM iv JOIN sz s1 ON s1.event_type = t1 JOIN sz s2 ON s2.event_type = t2
      |ORDER BY t1, t2""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_interpolate — linear gap interpolation of the daily revenue series
  // ------------------------------------------------------------------

  /** Linear interpolation across calendar gaps in the daily revenue
    * series (the imputation companion to q_calendar_fill's zero-fill).
    * Prev/next known anchors are found with plain MIN/MAX windows over
    * an ENCODED (epoch-day·10¹³ + cents) BIGINT — the day index
    * dominates the ordering, so max-over-preceding/min-over-following
    * decode to "latest known before / earliest known after" without any
    * IGNORE NULLS support on either engine. (Cents per day must stay
    * < 10¹³ — ~10 orders of magnitude above this corpus; a warehouse
    * deployment would widen to DECIMAL.) The interpolation step uses
    * sign·(|Δrev|·offset div span) so every integer division sees
    * non-negative operands (truncate/floor agreement). */
  private def qInterpolate(t: Tables): DataFrame = {
    val enc = 10000000000000L
    val daily = t.orders
      .select(expr("CAST(o_orderdate AS DATE)").as("d"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).cast("long").as("rev"))
    val spine = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("d"))
    val filled = spine.join(daily, Seq("d"), "left")
      .select(expr("datediff(d, DATE'1970-01-01')").cast("long").as("di"),
        col("d"), col("rev"))
      .withColumn("e",
        when(col("rev").isNotNull, col("di") * lit(enc) + col("rev")))
    val wPrev = Window.orderBy(col("di"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.orderBy(col("di"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    filled
      .withColumn("pe", max(col("e")).over(wPrev))
      .withColumn("ne", min(col("e")).over(wNext))
      .select(col("d").cast("string").as("day"), col("rev"),
        expr(s"pe div ${enc}L").as("pd"), pmod(col("pe"), lit(enc)).as("pr"),
        expr(s"ne div ${enc}L").as("nd"), pmod(col("ne"), lit(enc)).as("nr"),
        col("di"))
      .select(col("day"),
        when(col("rev").isNotNull, col("rev")).otherwise(
          col("pr") + when(col("nr") >= col("pr"), 1L).otherwise(-1L)
            * expr("(abs(nr - pr) * (di - pd)) div (nd - pd)"))
          .cast("long").as("rev_filled"),
        col("rev").isNull.cast("int").as("is_gap"))
      .orderBy(col("day"))
  }

  private val qInterpolateSql =
    """WITH daily AS (SELECT d, CAST(SUM(cents) AS BIGINT) AS rev FROM (
      |SELECT CAST(o_orderdate AS DATE) AS d,
      |CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents FROM orders) z GROUP BY 1),
      |spine AS (SELECT unnest(generate_series(
      |(SELECT MIN(d) FROM daily), (SELECT MAX(d) FROM daily),
      |INTERVAL 1 DAY))::DATE AS d),
      |f AS (SELECT CAST(spine.d - DATE '1970-01-01' AS BIGINT) AS di,
      |spine.d AS d, daily.rev,
      |CASE WHEN daily.rev IS NOT NULL
      |THEN CAST(spine.d - DATE '1970-01-01' AS BIGINT) * 10000000000000 + daily.rev
      |END AS e
      |FROM spine LEFT JOIN daily ON spine.d = daily.d),
      |anch AS (SELECT d, di, rev,
      |MAX(e) OVER (ORDER BY di ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pe,
      |MIN(e) OVER (ORDER BY di ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ne
      |FROM f),
      |dec AS (SELECT d, di, rev,
      |pe // 10000000000000 AS pd, pe % 10000000000000 AS pr,
      |ne // 10000000000000 AS nd, ne % 10000000000000 AS nr FROM anch)
      |SELECT CAST(d AS VARCHAR) AS day,
      |CAST(CASE WHEN rev IS NOT NULL THEN rev
      |ELSE pr + (CASE WHEN nr >= pr THEN 1 ELSE -1 END)
      |* ((abs(nr - pr) * (di - pd)) // (nd - pd)) END AS BIGINT) AS rev_filled,
      |CASE WHEN rev IS NULL THEN 1 ELSE 0 END AS is_gap
      |FROM dec ORDER BY day""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_text_sentences — sentence segmentation panel per source
  // ------------------------------------------------------------------

  /** Per-source sentence statistics under a shared [.!?]+ segmentation
    * (ASCII-only, so the Java and RE2 regex dialects agree): document
    * and sentence counts, floor-e6 mean sentences per document, max. */
  private def qTextSentences(t: Tables): DataFrame =
    t.documents
      .select(col("source"),
        size(filter(split(col("text"), "[.!?]+"),
          seg => length(trim(seg)) > 0)).cast("long").as("ns"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ns")).cast("long").as("n_sents"),
        max(col("ns")).as("max_sents"))
      .withColumn("mean_sents_e6", expr("(n_sents * 1000000) div n_docs"))
      .orderBy(col("source"))

  private val qTextSentencesSql =
    """WITH per AS (SELECT source,
      |CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
      |seg -> length(trim(seg)) > 0)) AS BIGINT) AS ns
      |FROM documents)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(ns) AS BIGINT) AS n_sents,
      |MAX(ns) AS max_sents,
      |(CAST(SUM(ns) AS BIGINT) * 1000000) // COUNT(*) AS mean_sents_e6
      |FROM per GROUP BY source ORDER BY source""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_vocab_coverage — top-k token-mass coverage curve
  // ------------------------------------------------------------------

  private val CoverageKs = Seq(10L, 100L, 1000L)

  /** What share of all token occurrences the k most frequent types
    * cover, k ∈ {10, 100, 1000} — the tokenizer-design curve (how big a
    * vocabulary buys how much of the corpus). One frequency aggregate,
    * then a top-max(k) cut via orderBy+limit (TakeOrderedAndProject —
    * the type frame is ≪ corpus but still Heaps-grows with it, so no
    * unbounded rank window) and a rank within the 1000-row cut. */
  private def qVocabCoverage(t: Tables): DataFrame = {
    val tf = t.documents
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val tot = tf.agg(sum(col("c")).cast("long").as("total"))
    val kArr = array(CoverageKs.map(lit): _*)
    tf.orderBy(col("c").desc, col("token")).limit(CoverageKs.max.toInt)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("token"))).cast("long"))
      .select(explode(kArr).as("k"), col("rank"), col("c"))
      .filter(col("rank") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).cast("long").as("covered"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_types"), col("covered"),
        expr("(covered * 1000000) div total").as("pct_e6"))
      .orderBy(col("k"))
  }

  private val qVocabCoverageSql = {
    val ks = CoverageKs.map(k => s"($k)").mkString(", ")
    s"""WITH tf AS MATERIALIZED (SELECT token, COUNT(*) AS c FROM (
       |SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |FROM documents) z GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM tf),
       |rk AS (SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token) AS BIGINT) AS rank
       |FROM tf),
       |ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES $ks) v(k)),
       |cv AS (SELECT k, COUNT(*) AS n_types, CAST(SUM(c) AS BIGINT) AS covered
       |FROM rk CROSS JOIN ks WHERE rank <= k GROUP BY 1)
       |SELECT k, n_types, covered, (covered * 1000000) // total AS pct_e6
       |FROM cv CROSS JOIN tot ORDER BY k""".stripMargin.replace('\n', ' ')
  }

  // ------------------------------------------------------------------
  // q_graph_condensation — SCC contraction DAG panel
  // ------------------------------------------------------------------

  /** Macro-structure of the wait-for graph after SCC contraction: the
    * condensation DAG's component count, largest component, singleton
    * count, inter-component edge count, and its root/leaf counts
    * (components with no incoming / no outgoing condensation edge) —
    * the summary a deadlock or dependency analysis reads first. SCC
    * labels come from [[graft.graph.Algos.scc]] (FB-coloring); the
    * oracle recomputes them independently via transitive-closure
    * squaring ([[graft.sql.OracleGen.sccSql]]) and replays the
    * contraction joins. */
  private def qCondensation(t: Tables): DataFrame = owned { o =>
    val e = o(TestGraphs.waitFor(t).localCheckpoint())
    val comp = o(graph.Algos.scc(e)).localCheckpoint()
    val ce = e
      .join(comp.select(col("id").as("src"), col("comp").as("c1")), Seq("src"))
      .join(comp.select(col("id").as("dst"), col("comp").as("c2")), Seq("dst"))
      .filter(col("c1") =!= col("c2"))
      .select(col("c1"), col("c2")).distinct().localCheckpoint()
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("n"))
    val stats = sizes.agg(count(lit(1)).as("n_components"),
      max(col("n")).as("largest"),
      sum(when(col("n") === 1, 1L).otherwise(0L)).cast("long").as("n_singletons"))
    val roots = sizes.select(col("comp"))
      .join(ce.select(col("c2").as("comp")).distinct(), Seq("comp"), "left_anti")
      .agg(count(lit(1)).as("n_roots"))
    val leaves = sizes.select(col("comp"))
      .join(ce.select(col("c1").as("comp")).distinct(), Seq("comp"), "left_anti")
      .agg(count(lit(1)).as("n_leaves"))
    stats.crossJoin(ce.agg(count(lit(1)).as("n_cond_edges")))
      .crossJoin(roots).crossJoin(leaves)
  }

  private val qCondensationSql = {
    val inner = graft.sql.OracleGen.sccSql(TestGraphs.waitForSql, 8)
    s"""WITH ${TestGraphs.waitForSql.replace("e AS MATERIALIZED", "ew AS MATERIALIZED")},
       |comp AS MATERIALIZED (SELECT * FROM ($inner) qz),
       |ce AS MATERIALIZED (SELECT DISTINCT a.comp AS c1, b.comp AS c2
       |FROM ew JOIN comp a ON a.id = ew.src JOIN comp b ON b.id = ew.dst
       |WHERE a.comp <> b.comp),
       |sz AS (SELECT comp, COUNT(*) AS n FROM comp GROUP BY 1)
       |SELECT (SELECT COUNT(*) FROM sz) AS n_components,
       |(SELECT MAX(n) FROM sz) AS largest,
       |(SELECT CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) FROM sz) AS n_singletons,
       |(SELECT COUNT(*) FROM ce) AS n_cond_edges,
       |(SELECT COUNT(*) FROM sz WHERE comp NOT IN (SELECT c2 FROM ce)) AS n_roots,
       |(SELECT COUNT(*) FROM sz WHERE comp NOT IN (SELECT c1 FROM ce)) AS n_leaves""".stripMargin.replace('\n', ' ')
  }

  // ------------------------------------------------------------------
  // q_decay_score — exponentially time-decayed engagement per user
  // ------------------------------------------------------------------

  /** Recency-weighted engagement: each event contributes its cents value
    * halved per day of age (cents div 2^age, age capped at 30 — beyond
    * that the contribution is already 0 for any realistic value), summed
    * per user, top 100. Power-of-two decay keeps the weighting a pure
    * integer shift — the [[graft.sql.Exact]] rule with no float
    * anywhere; value is positive in this corpus so every division sees
    * non-negative operands. Reference day = max event day (broadcast
    * scalar). */
  private def qDecayScore(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"),
      expr(s"ts div $DayUs").as("day"),
      floor(col("value") * 100).cast("long").as("cents"))
    val ref = ev.agg(max(col("day")).as("ref_day"))
    ev.crossJoin(broadcast(ref))
      .withColumn("age", least(col("ref_day") - col("day"), lit(30L)).cast("int"))
      .withColumn("dv", expr("cents div shiftleft(1L, age)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("dv")).cast("long").as("decay_cents"))
      .orderBy(col("decay_cents").desc, col("user_id")).limit(100)
      .orderBy(col("decay_cents").desc, col("user_id"))
  }

  private val qDecayScoreSql =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) // $DayUs AS day,
       |CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
       |ref AS (SELECT MAX(day) AS ref_day FROM ev),
       |d AS (SELECT user_id, cents,
       |CAST(least(ref_day - day, 30) AS INT) AS age FROM ev CROSS JOIN ref),
       |g AS (SELECT user_id, COUNT(*) AS n_events,
       |CAST(SUM(cents // (CAST(1 AS BIGINT) << age)) AS BIGINT) AS decay_cents
       |FROM d GROUP BY 1)
       |SELECT user_id, n_events, decay_cents FROM g
       |QUALIFY ROW_NUMBER() OVER (ORDER BY decay_cents DESC, user_id) <= 100
       |ORDER BY decay_cents DESC, user_id""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_butterflies — bipartite 2×2 biclique census
  // ------------------------------------------------------------------

  /** [[graft.graph.Algos.butterflyCount]] over the customer–supplier
    * bipartite graph, pivoting on customers (the side whose wedge
    * volume is 12.5M at sf0.1 vs a supplier-pair key space ≤ |S|² that
    * map-side combine collapses). Butterflies are the bipartite
    * clustering signal — co-purchase cohesion without projecting the
    * graph. */
  private def qButterflies(t: Tables): DataFrame = {
    val e = t.orders.join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("l"), col("l_suppkey").as("r"))
    graph.Algos.butterflyCount(e)
  }

  private val qButterfliesSql =
    """WITH ce AS MATERIALIZED (SELECT DISTINCT o_custkey AS l, l_suppkey AS r
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |w AS (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM (
      |SELECT l, COUNT(*) AS d FROM ce GROUP BY 1) dg),
      |rp AS (SELECT x.r AS r1, y.r AS r2, COUNT(*) AS c FROM ce x
      |JOIN ce y ON x.l = y.l AND x.r < y.r GROUP BY 1, 2),
      |bf AS (SELECT CAST(COALESCE(SUM((c * (c - 1)) // 2), 0) AS BIGINT) AS n_butterflies
      |FROM rp)
      |SELECT (SELECT COUNT(DISTINCT l) FROM ce) AS n_left,
      |(SELECT COUNT(DISTINCT r) FROM ce) AS n_right,
      |n_wedges, n_butterflies FROM w CROSS JOIN bf""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_ab_ttest — Welch's t between md5-split experiment arms
  // ------------------------------------------------------------------

  /** Two-sample Welch t-test on event value between deterministic
    * md5-split arms (the q_split_3way assignment rule, mod 2) — the
    * experiment-analysis primitive. All sums are exact integers/wide
    * decimals accumulated in one conditional-aggregation pass; the t
    * statistic is ONE double formula evaluated on identical operands in
    * both engines (the q_corr_matrix discipline — IEEE ÷ and √ are
    * correctly rounded, so identical inputs give identical bits).
    * Means are reported as exact integer e6 ratios. */
  private def qAbTtest(t: Tables): DataFrame = {
    val ev = t.events.select(
      pmod(graft.pipeline.Corpus.md5Uniform(col("user_id").cast("string")),
        lit(2L)).as("arm"),
      floor(col("value") * 100).cast("long").as("cents"))
    val st = ev.agg(
      expr("sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)").cast("long").as("na"),
      expr("sum(CASE WHEN arm = 0 THEN cents ELSE 0 END)").cast("long").as("sa"),
      expr("sum(CASE WHEN arm = 0 THEN CAST(cents AS DECIMAL(38,0)) * cents ELSE 0 END)").as("ssa"),
      expr("sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)").cast("long").as("nb"),
      expr("sum(CASE WHEN arm = 1 THEN cents ELSE 0 END)").cast("long").as("sb"),
      expr("sum(CASE WHEN arm = 1 THEN CAST(cents AS DECIMAL(38,0)) * cents ELSE 0 END)").as("ssb"))
    st.select(col("na"), col("nb"),
      expr("(sa * 1000000) div na").as("mean_a_e6"),
      expr("(sb * 1000000) div nb").as("mean_b_e6"),
      expr(s"CAST(FLOOR(($abTExpr) * 1000000) AS BIGINT)").as("t_e6"))
  }

  /** The one shared double formula — spliced VERBATIM into both plans. */
  private def abTExpr: String =
    """(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
      | / sqrt(((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0)) / CAST(na AS DOUBLE)
      | + ((CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0)) / CAST(nb AS DOUBLE))""".stripMargin.replace('\n', ' ')

  private val qAbTtestSql = {
    val u = graft.sql.OracleGen.hex6("md5(CAST(user_id AS VARCHAR))") + " % 2"
    s"""WITH ev AS (SELECT $u AS arm,
       |CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
       |st AS (SELECT
       |CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |CAST(SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS sa,
       |SUM(CASE WHEN arm = 0 THEN CAST(cents AS DECIMAL(38,0)) * cents ELSE 0 END) AS ssa,
       |CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |CAST(SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS sb,
       |SUM(CASE WHEN arm = 1 THEN CAST(cents AS DECIMAL(38,0)) * cents ELSE 0 END) AS ssb
       |FROM ev)
       |SELECT na, nb, (sa * 1000000) // na AS mean_a_e6,
       |(sb * 1000000) // nb AS mean_b_e6,
       |CAST(FLOOR(($abTExpr) * 1000000) AS BIGINT) AS t_e6
       |FROM st""".stripMargin.replace('\n', ' ')
  }

  // ------------------------------------------------------------------
  // q_graph_core_ladder — k-core decomposition ladder
  // ------------------------------------------------------------------

  private val CoreLadderKs = Seq(2L, 8L, 32L)

  /** Size of the k-core for k ∈ {2, 8, 32} — the cohesion ladder
    * between the single-k q_graph_kcore and a full coreness
    * decomposition. Each rung is one [[graft.graph.Algos.kCore]]
    * fixpoint (converged; the oracle unrolls 16 peel rounds, trailing
    * rounds no-ops). sum_deg counts symmetric edge ends (2·edges). */
  private def qCoreLadder(t: Tables): DataFrame = owned { o =>
    val e = o(TestGraphs.custSuppSym(t).select("src", "dst")
      .localCheckpoint())
    CoreLadderKs.map { k =>
      graph.Algos.kCore(e, k.toInt)
        .agg(count(lit(1)).as("n_vertices"),
          coalesce(sum(col("deg")), lit(0L)).cast("long").as("sum_deg"))
        .select(lit(k).as("k"), col("n_vertices"), col("sum_deg"))
    }.reduce(_ unionByName _).orderBy(col("k"))
  }

  private val qCoreLadderSql = {
    val rungs = CoreLadderKs.map { k =>
      val inner = graft.sql.OracleGen.kCoreSql(TestGraphs.custSuppSymSql, k.toInt, 16)
      s"""SELECT CAST($k AS BIGINT) AS k, COUNT(*) AS n_vertices,
         |CAST(COALESCE(SUM(deg), 0) AS BIGINT) AS sum_deg FROM ($inner) z$k""".stripMargin.replace('\n', ' ')
    }.mkString(" UNION ALL ")
    s"SELECT k, n_vertices, sum_deg FROM ($rungs) u ORDER BY k"
  }

  // ------------------------------------------------------------------
  // q_graph_null_model — observed vs configuration-model triangles
  // ------------------------------------------------------------------

  /** The one shared double formula (q_corr_matrix discipline): expected
    * triangles in the degree-preserving configuration model,
    * E[T] ≈ (Σd(d−1))³ / (6·(Σd)³). */
  private def nullModelExpr: String =
    """(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
      | / (6.0 * CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))""".stripMargin.replace('\n', ' ')

  /** Null-model audit of clustering: observed triangle count against
    * the configuration-model expectation for the SAME degree sequence —
    * the "is this graph more clustered than chance" question. Exact
    * integer degree sums, one shared double formula at the end, obs/exp
    * ratio floor-e6. */
  private def qNullModel(t: Tables): DataFrame = {
    val p = TestGraphs.partCoPairs(t).localCheckpoint()
    val tri = graph.Algos.triangleCount(p)
    val degSums = p.select(col("u").as("id")).union(p.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_vertices"),
        sum(col("d")).cast("long").as("m2"),
        sum(col("d") * (col("d") - 1)).cast("long").as("s2"))
    degSums.crossJoin(tri)
      .select(col("n_vertices"), expr("m2 div 2").as("n_edges"), col("triangles"),
        expr(s"CAST(FLOOR(($nullModelExpr) * 1000000) AS BIGINT)").as("expected_e6"),
        expr(s"CAST(FLOOR(CAST(triangles AS DOUBLE) / ($nullModelExpr) * 1000000) AS BIGINT)")
          .as("ratio_e6"))
  }

  private val qNullModelSql =
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |t AS (SELECT COUNT(*) AS triangles FROM cp a
       |JOIN cp b ON b.u = a.u AND b.v > a.v
       |JOIN cp c ON c.u = a.v AND c.v = b.v),
       |deg AS (SELECT id, COUNT(*) AS d FROM (
       |SELECT u AS id FROM cp UNION ALL SELECT v AS id FROM cp) z GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n_vertices, CAST(SUM(d) AS BIGINT) AS m2,
       |CAST(SUM(d * (d - 1)) AS BIGINT) AS s2 FROM deg)
       |SELECT n_vertices, m2 // 2 AS n_edges, triangles,
       |CAST(FLOOR(($nullModelExpr) * 1000000) AS BIGINT) AS expected_e6,
       |CAST(FLOOR(CAST(triangles AS DOUBLE) / ($nullModelExpr) * 1000000) AS BIGINT) AS ratio_e6
       |FROM st CROSS JOIN t""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_wedge_sample — sampled-transitivity estimator audit
  // ------------------------------------------------------------------

  /** Center-sampled transitivity estimator NEXT TO the exact value —
    * the audit that justifies wedge sampling as the at-scale clustering
    * estimator (Seshadhri et al. 2013 shape): centers are a
    * deterministic 1/17 md5 sample, only THEIR wedges are enumerated
    * (work Σ_{v∈sample} C(d_v, 2), a 17× cut with the same plan), each
    * wedge is closure-checked by one semi-join against the canonical
    * pair set, and the estimate ships beside exact 3·Δ/W so the error
    * is measured, not assumed. */
  private def qWedgeSample(t: Tables): DataFrame = {
    val p = TestGraphs.partCoPairs(t).localCheckpoint()
    val sym = p.select(col("u").as("c"), col("v").as("n"))
      .union(p.select(col("v").as("c"), col("u").as("n")))
    val sampled = sym.filter(
      pmod(graft.pipeline.Corpus.md5Uniform(col("c").cast("string")), lit(17L)) === 0L)
    val wedges = sampled.as("a").join(sampled.as("b"),
        col("a.c") === col("b.c") && col("a.n") < col("b.n"))
      .select(col("a.n").as("u"), col("b.n").as("v"))
    val closed = wedges.join(p, Seq("u", "v"), "left_semi")
    val est = wedges.agg(count(lit(1)).as("n_wedges_sampled"))
      .crossJoin(closed.agg(count(lit(1)).as("n_closed")))
    val tri = graph.Algos.triangleCount(p)
    val totalWedges = sym.groupBy(col("c")).agg(count(lit(1)).as("d"))
      .agg(sum(expr("(d * (d - 1)) div 2")).cast("long").as("n_wedges_total"))
    est.crossJoin(tri).crossJoin(totalWedges)
      .select(col("n_wedges_sampled"), col("n_closed"),
        expr("(n_closed * 1000000) div n_wedges_sampled").as("est_e6"),
        col("n_wedges_total"), col("triangles"),
        expr("(3 * triangles * 1000000) div n_wedges_total").as("exact_e6"),
        expr("abs((n_closed * 1000000) div n_wedges_sampled" +
          " - (3 * triangles * 1000000) div n_wedges_total)").as("abs_err_e6"))
  }

  private val qWedgeSampleSql = {
    val samp = graft.sql.OracleGen.hex6("md5(CAST(c AS VARCHAR))") + " % 17 = 0"
    s"""WITH cp AS MATERIALIZED (${TestGraphs.partCoPairsSql}),
       |sym AS MATERIALIZED (SELECT u AS c, v AS n FROM cp
       |UNION ALL SELECT v AS c, u AS n FROM cp),
       |sm AS MATERIALIZED (SELECT c, n FROM sym WHERE $samp),
       |wg AS MATERIALIZED (SELECT a.n AS u, b.n AS v FROM sm a
       |JOIN sm b ON a.c = b.c AND a.n < b.n),
       |cl AS (SELECT COUNT(*) AS n_closed FROM wg
       |WHERE EXISTS (SELECT 1 FROM cp WHERE cp.u = wg.u AND cp.v = wg.v)),
       |ws AS (SELECT COUNT(*) AS n_wedges_sampled FROM wg),
       |t AS (SELECT COUNT(*) AS triangles FROM cp a
       |JOIN cp b ON b.u = a.u AND b.v > a.v
       |JOIN cp c ON c.u = a.v AND c.v = b.v),
       |tw AS (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges_total FROM (
       |SELECT c, COUNT(*) AS d FROM sym GROUP BY 1) dg)
       |SELECT n_wedges_sampled, n_closed,
       |(n_closed * 1000000) // n_wedges_sampled AS est_e6,
       |n_wedges_total, triangles,
       |(3 * triangles * 1000000) // n_wedges_total AS exact_e6,
       |abs((n_closed * 1000000) // n_wedges_sampled
       |- (3 * triangles * 1000000) // n_wedges_total) AS abs_err_e6
       |FROM ws CROSS JOIN cl CROSS JOIN t CROSS JOIN tw""".stripMargin.replace('\n', ' ')
  }

  // ------------------------------------------------------------------
  // q_graph_mwm — ½-approx maximum-weight matching
  // ------------------------------------------------------------------

  private val MwmRounds = 12

  /** [[graft.graph.Algos.maxWeightMatching]] on the weighted
    * customer–supplier graph; the oracle unrolls the same 12
    * mutual-heaviest-proposal rounds. */
  private def qMwm(t: Tables): DataFrame =
    graph.Algos.maxWeightMatching(
      TestGraphs.custSuppSym(t).select("src", "dst", "w"),
      maxRounds = MwmRounds)

  private val qMwmSql = {
    val roundCtes = (1 to MwmRounds).map { r =>
      s"""pk$r AS MATERIALIZED (SELECT src, dst, w FROM (
         |SELECT l.src, l.dst, l.w,
         |ROW_NUMBER() OVER (PARTITION BY l.src ORDER BY l.w DESC, l.dst DESC) AS rn
         |FROM l${r - 1} l) z$r WHERE rn = 1),
         |m$r AS MATERIALIZED (SELECT a.src AS u, a.dst AS v, a.w AS w
         |FROM pk$r a JOIN pk$r b ON a.src = b.dst AND a.dst = b.src
         |WHERE a.src < a.dst),
         |mm$r AS MATERIALIZED (SELECT u, v, w FROM mm${r - 1}
         |UNION ALL SELECT u, v, w FROM m$r),
         |vs$r AS MATERIALIZED (SELECT u AS id FROM mm$r UNION SELECT v AS id FROM mm$r),
         |l$r AS MATERIALIZED (SELECT l.src, l.dst, l.w FROM l${r - 1} l
         |WHERE l.src NOT IN (SELECT id FROM vs$r)
         |AND l.dst NOT IN (SELECT id FROM vs$r))""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    s"""WITH ${TestGraphs.custSuppSymSql},
       |l0 AS MATERIALIZED (SELECT src, dst, w FROM e),
       |mm0 AS (SELECT CAST(0 AS BIGINT) AS u, CAST(0 AS BIGINT) AS v,
       |CAST(0 AS BIGINT) AS w WHERE false),
       |$roundCtes
       |SELECT u, v, w FROM mm$MwmRounds ORDER BY u""".stripMargin.replace('\n', ' ')
  }

  // ------------------------------------------------------------------
  // q_cohort_ltv — cumulative revenue per signup cohort (LTV curve)
  // ------------------------------------------------------------------

  /** Lifetime-value curve: purchase revenue per (first-seen-week cohort,
    * weeks-since-first), cumulative, per-user e2 — the revenue companion
    * of q_cohort's retention triangle. Cents floored per EVENT before
    * any sum (the Exact rule); cohort sizes ride along so the per-user
    * normalization is an exact integer division. */
  private def qCohortLtv(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"),
      expr(s"(ts div $DayUs) div 7").as("week"),
      floor(col("value") * 100).cast("long").as("cents"))
    val first = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val sizes = first.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(first, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(sum(col("cents")).cast("long").as("rev_cents"))
    rev.join(sizes, Seq("cohort_week"))
      .withColumn("cum_cents",
        sum(col("rev_cents")).over(Window.partitionBy(col("cohort_week"))
          .orderBy(col("age_weeks"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .select(col("cohort_week"), col("age_weeks"), col("cohort_users"),
        col("rev_cents"), col("cum_cents"),
        expr("cum_cents div cohort_users").as("ltv_per_user_cents"))
      .orderBy(col("cohort_week"), col("age_weeks"))
  }

  private val qCohortLtvSql =
    s"""WITH ev AS MATERIALIZED (SELECT user_id, event_type,
       |(epoch_us(ts) // $DayUs) // 7 AS week,
       |CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
       |f AS MATERIALIZED (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY 1),
       |sz AS (SELECT cohort_week, COUNT(*) AS cohort_users FROM f GROUP BY 1),
       |rev AS (SELECT f.cohort_week, ev.week - f.cohort_week AS age_weeks,
       |CAST(SUM(cents) AS BIGINT) AS rev_cents
       |FROM ev JOIN f ON ev.user_id = f.user_id
       |WHERE ev.event_type = 'purchase' GROUP BY 1, 2)
       |SELECT rev.cohort_week AS cohort_week, age_weeks, cohort_users, rev_cents,
       |CAST(SUM(rev_cents) OVER (PARTITION BY rev.cohort_week ORDER BY age_weeks
       |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
       |CAST(SUM(rev_cents) OVER (PARTITION BY rev.cohort_week ORDER BY age_weeks
       |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) // cohort_users AS ltv_per_user_cents
       |FROM rev JOIN sz ON sz.cohort_week = rev.cohort_week
       |ORDER BY rev.cohort_week, age_weeks""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_lm_heldout — held-out unigram-LM perplexity with add-1 smoothing
  // ------------------------------------------------------------------

  /** Held-out language-model evaluation: unigram counts trained on the
    * md5-80% train split, add-1-smoothed surprisal scored on the held
    * 20% — the train/eval discipline q_text_surprisal (in-corpus) lacks,
    * and the floor-log2 bits-per-token number a data mix is tuned by.
    * bits = ⌊log₂((T+V)/(c+1))⌋ via the bitlength identity (c = train
    * count, 0 for OOV; V = train vocab) — zero libm, hash-exact. */
  private def qLmHeldout(t: Tables): DataFrame = {
    val docs = t.documents
    val split = pmod(graft.pipeline.Corpus.md5Uniform(col("doc_id").cast("string")),
      lit(100L))
    val toks = docs.select(col("doc_id"),
        (split < 80).cast("int").as("is_train"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
      .localCheckpoint()
    val train = toks.filter(col("is_train") === 1)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val scal = train.agg(sum(col("c")).cast("long").as("t"),
      count(lit(1)).as("v"))
    val scored = toks.filter(col("is_train") === 0)
      .join(train, Seq("tok"), "left")
      .crossJoin(broadcast(scal))
      .select((length(bin(expr("(t + v) div (coalesce(c, 0) + 1)"))) - 1)
        .cast("long").as("bits"),
        when(col("c").isNull, 1L).otherwise(0L).as("oov"))
    scored.agg(count(lit(1)).as("n_eval_tokens"),
        sum(col("oov")).cast("long").as("n_oov"),
        sum(col("bits")).cast("long").as("total_bits"))
      .select(col("n_eval_tokens"), col("n_oov"), col("total_bits"),
        expr("(total_bits * 1000000) div n_eval_tokens").as("bits_per_token_e6"),
        expr("(n_oov * 1000000) div n_eval_tokens").as("oov_rate_e6"))
  }

  private val qLmHeldoutSql = {
    val u = graft.sql.OracleGen.hex6("md5(CAST(doc_id AS VARCHAR))") + " % 100"
    s"""WITH toks AS MATERIALIZED (SELECT doc_id,
       |CASE WHEN $u < 80 THEN 1 ELSE 0 END AS is_train,
       |unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents),
       |tr AS MATERIALIZED (SELECT tok, COUNT(*) AS c FROM toks
       |WHERE is_train = 1 GROUP BY 1),
       |sc AS (SELECT CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS v FROM tr),
       |ev AS (SELECT length(bin(CAST((t + v) // (COALESCE(c, 0) + 1) AS BIGINT))) - 1 AS bits,
       |CASE WHEN c IS NULL THEN 1 ELSE 0 END AS oov
       |FROM toks LEFT JOIN tr USING (tok) CROSS JOIN sc
       |WHERE is_train = 0)
       |SELECT COUNT(*) AS n_eval_tokens, CAST(SUM(oov) AS BIGINT) AS n_oov,
       |CAST(SUM(bits) AS BIGINT) AS total_bits,
       |(CAST(SUM(bits) AS BIGINT) * 1000000) // COUNT(*) AS bits_per_token_e6,
       |(CAST(SUM(oov) AS BIGINT) * 1000000) // COUNT(*) AS oov_rate_e6
       |FROM ev""".stripMargin.replace('\n', ' ')
  }

  // ------------------------------------------------------------------
  // q_emb_drift — per-dimension mean drift between two corpus halves
  // ------------------------------------------------------------------

  /** Embedding drift monitor: quantized per-dimension means of the two
    * vec_id-parity halves compared as the exact integer cross product
    * Δ = s_a·n_b − s_b·n_a (the sign/magnitude of mean_a − mean_b with
    * zero division) — top-10 drifted dimensions. Swap the parity split
    * for yesterday/today snapshots and this is the production
    * distribution-shift alarm. */
  private def qEmbDrift(t: Tables): DataFrame = {
    val q = t.embeddings.select(
      pmod(col("vec_id"), lit(2L)).as("half"),
      posexplode(transform(col("embedding"),
        x => floor(x.cast("double") * lit(16384.0)).cast("long"))).as(Seq("j", "qv")))
    val per = q.groupBy(col("j"), col("half"))
      .agg(count(lit(1)).as("n"), sum(col("qv")).cast("long").as("s"))
    val wide = per.groupBy(col("j")).agg(
      max(when(col("half") === 0, col("n"))).as("na"),
      max(when(col("half") === 0, col("s"))).as("sa"),
      max(when(col("half") === 1, col("n"))).as("nb"),
      max(when(col("half") === 1, col("s"))).as("sb"))
    wide
      .select(col("j").cast("long").as("j"), col("na"), col("nb"),
        (col("sa") * col("nb") - col("sb") * col("na")).as("delta_num"))
      .orderBy(abs(col("delta_num")).desc, col("j")).limit(10)
      .orderBy(abs(col("delta_num")).desc, col("j"))
  }

  private val qEmbDriftSql =
    """WITH q AS MATERIALIZED (SELECT vec_id % 2 AS half, j - 1 AS j,
      |CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 16384) AS BIGINT) AS qv
      |FROM embeddings, unnest(range(1, 65)) t(j)),
      |per AS (SELECT j, half, COUNT(*) AS n, CAST(SUM(qv) AS BIGINT) AS s
      |FROM q GROUP BY 1, 2),
      |wide AS (SELECT j,
      |MAX(CASE WHEN half = 0 THEN n END) AS na,
      |MAX(CASE WHEN half = 0 THEN s END) AS sa,
      |MAX(CASE WHEN half = 1 THEN n END) AS nb,
      |MAX(CASE WHEN half = 1 THEN s END) AS sb
      |FROM per GROUP BY 1)
      |SELECT CAST(j AS BIGINT) AS j, na, nb,
      |sa * nb - sb * na AS delta_num FROM wide
      |QUALIFY ROW_NUMBER() OVER (ORDER BY abs(sa * nb - sb * na) DESC, j) <= 10
      |ORDER BY abs(delta_num) DESC, j""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_dup_payments — duplicate-transaction detection
  // ------------------------------------------------------------------

  /** Duplicate-transaction sweep: purchase pairs from the SAME user
    * with the SAME whole-dollar amount within 24 hours — the classic
    * double-charge candidate query (the dollar rounding absorbs
    * fee/discount jitter; exact-cents matching finds nothing in any
    * realistic feed, this corpus included). Equi-join on
    * (user, dollars) with the time window as a residual predicate, so
    * the pair space is bounded by per-(user, amount) multiplicity.
    * Top-10 most-duplicated amounts. */
  private def qDupPayments(t: Tables): DataFrame = {
    val e = t.events
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        floor(col("value")).cast("long").as("dollars"), col("ts"))
      .localCheckpoint()
    val pairs = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id")
          && col("a.dollars") === col("b.dollars")
          && col("a.event_id") < col("b.event_id")
          && abs(col("a.ts") - col("b.ts")) <= lit(86400000000L))
      .select(col("a.user_id").as("u"), col("a.dollars").as("dollars"))
    pairs.groupBy(col("dollars"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("u")).as("n_users"))
      .orderBy(col("n_pairs").desc, col("dollars")).limit(10)
      .orderBy(col("n_pairs").desc, col("dollars"))
  }

  private val qDupPaymentsSql =
    """WITH e AS MATERIALIZED (SELECT event_id, user_id,
      |CAST(FLOOR(value) AS BIGINT) AS dollars, epoch_us(ts) AS us
      |FROM events WHERE event_type = 'purchase'),
      |p AS (SELECT a.user_id AS u, a.dollars AS dollars FROM e a JOIN e b
      |ON a.user_id = b.user_id AND a.dollars = b.dollars
      |AND a.event_id < b.event_id AND abs(a.us - b.us) <= 86400000000)
      |SELECT dollars, COUNT(*) AS n_pairs,
      |COUNT(DISTINCT u) AS n_users FROM p GROUP BY 1
      |QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, dollars) <= 10
      |ORDER BY n_pairs DESC, dollars""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------------
  // q_graph_wcc_incremental — merge new edges into existing components
  // ------------------------------------------------------------------

  /** Incremental connected components: a deterministic 20% of the edges
    * arrives AFTER the base WCC ran; instead of recomputing, the
    * increment's endpoints are CONTRACTED to their base labels and a
    * WCC over that tiny label graph splices the components (min-of-mins
    * = global min, so labels stay canonical). The oracle is the plain
    * FULL-graph WCC — a hash match PROVES the incremental merge
    * equivalent to recomputation, which is the contract that lets a
    * 100 TB graph absorb daily edge deltas at delta cost (base labels
    * persisted once; per-day work ∝ increment + component-graph size).
    * Reference analogue: the mutable-graph recompute avoidance that
    * motivates giraph's SimpleMutateGraphComputation family. */
  private def qWccIncremental(t: Tables): DataFrame = owned { o =>
    val ce = o(TestGraphs.custSupp(t).select(col("src"), col("dst"))
      .localCheckpoint())
    val split = pmod(graft.pipeline.Corpus.md5Uniform(
      concat_ws(":", col("src"), col("dst"))), lit(5L))
    val base = ce.filter(split =!= 0L)
    val inc = o(ce.filter(split === 0L).localCheckpoint())
    def symm(df: DataFrame): DataFrame =
      df.union(df.select(col("dst").as("src"), col("src").as("dst")))
    val labels = o(graph.Algos.wcc(symm(base)))
    val verts = symm(ce).select(col("src").as("id")).distinct()
    val lab = verts.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("lbl"))
      .localCheckpoint()
    val contracted = inc
      .join(lab.select(col("id").as("src"), col("lbl").as("ls")), Seq("src"))
      .join(lab.select(col("id").as("dst"), col("lbl").as("ld")), Seq("dst"))
      .select(col("ls").as("src"), col("ld").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val merged = graph.Algos.wcc(
      contracted.union(contracted.select(col("dst").as("src"), col("src").as("dst"))))
    lab.join(merged.select(col("id").as("lbl"), col("component").as("mc")),
        Seq("lbl"), "left")
      .select(col("id"), coalesce(col("mc"), col("lbl")).as("component"))
      .orderBy(col("id"))
  }

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------

  val queries: Seq[Query] = Seq(
    Query("q_trailing_dau", qTrailingDau, qTrailingDauSql),
    Query("q_peak_concurrency", qPeakConcurrency, qPeakConcurrencySql),
    Query("q_benford", qBenford, qBenfordSql),
    Query("q_changepoint", qChangepointCusum, qChangepointCusumSql),
    Query("q_hourly_heatmap", qHourlyHeatmap, qHourlyHeatmapSql),
    Query("q_sax_symbols", qSaxSymbols, qSaxSymbolsSql),
    Query("q_graph_rich_club", qRichClub, qRichClubSql),
    Query("q_graph_local_bridges", qLocalBridges, qLocalBridgesSql),
    Query("q_graph_degree_matrix", qDegreeMatrix, qDegreeMatrixSql),
    Query("q_text_heaps", qTextHeaps, qTextHeapsSql),
    Query("q_graph_2hop", qTwoHop, qTwoHopSql),
    Query("q_fulfillment_lag", qFulfillmentLag, qFulfillmentLagSql),
    Query("q_hhi", qHhi, qHhiSql),
    Query("q_graph_peel", qGraphPeel, qGraphPeelSql),
    Query("q_graph_transitivity", qTransitivity, qTransitivitySql),
    Query("q_audience_overlap", qAudienceOverlap, qAudienceOverlapSql),
    Query("q_interpolate", qInterpolate, qInterpolateSql),
    Query("q_text_sentences", qTextSentences, qTextSentencesSql),
    Query("q_vocab_coverage", qVocabCoverage, qVocabCoverageSql),
    Query("q_graph_condensation", qCondensation, qCondensationSql),
    Query("q_decay_score", qDecayScore, qDecayScoreSql),
    Query("q_graph_butterflies", qButterflies, qButterfliesSql),
    Query("q_ab_ttest", qAbTtest, qAbTtestSql),
    Query("q_graph_core_ladder", qCoreLadder, qCoreLadderSql),
    Query("q_graph_null_model", qNullModel, qNullModelSql),
    Query("q_graph_wedge_sample", qWedgeSample, qWedgeSampleSql),
    Query("q_graph_mwm", qMwm, qMwmSql),
    Query("q_cohort_ltv", qCohortLtv, qCohortLtvSql),
    Query("q_lm_heldout", qLmHeldout, qLmHeldoutSql),
    Query("q_emb_drift", qEmbDrift, qEmbDriftSql),
    Query("q_dup_payments", qDupPayments, qDupPaymentsSql),
    // the full-graph replay: a hash match proves incremental == recompute
    Query("q_graph_wcc_incremental", qWccIncremental, graft.sql.OracleGen.labelPropSql(
      TestGraphs.custSuppSymSql, 12, isMin = true, "component")))
}
