package graft

/** Plan-shape audits for the round-6 operators: each test pins the one
  * property that makes the operator scale — a broadcast that must not
  * degrade to a shuffle join, a fan-out that must stay inside the row,
  * a window that must run on a reduced frame. These assert on the
  * PHYSICAL plan, so an optimizer or stats regression that silently
  * reintroduces a scale-killer fails CI instead of surviving until a
  * 100× corpus finds it.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.all(name)(spark, sf).queryExecution.executedPlan.toString

  test("benford: the 9-row law table joins as a broadcast, never a shuffle join") {
    val p = plan("q_benford")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("embedding covariance: the d² fan-out never becomes a corpus self-join") {
    val p = plan("q_emb_covariance")
    // the pair generation is two chained generators inside the row; the
    // only joins are broadcasts of the d-row sums and the 1-row count
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("Generate"), p.take(800))
  }

  test("trailing DAU: dedup happens before the window fan-out") {
    val p = plan("q_trailing_dau")
    // the 7x explode must read from an aggregated (user, day) frame, so
    // a Generate appears ABOVE at least one aggregate in the plan text
    val genIdx = p.indexOf("Generate explode")
    assert(genIdx >= 0, p.take(800))
    assert(p.indexOf("HashAggregate", genIdx) >= 0,
      "no aggregate below the explode:\n" + p.take(1200))
  }

  test("decay score: the reference day is a broadcast scalar") {
    val p = plan("q_decay_score")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("hourly heatmap plan has no join at all") {
    val p = plan("q_hourly_heatmap")
    assert(!p.contains("Join"), p.take(800))
  }

  test("vocab coverage ranks the TYPE frame, not the token stream") {
    val p = plan("q_vocab_coverage")
    // the global rank window must sit above the token-frequency aggregate
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p.take(800))
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      "window not above an aggregate:\n" + p.take(1200))
  }

  test("EWMA fold runs without any join — pure agg + per-type array fold") {
    val p = plan("q_ewma_daily")
    assert(!p.contains("Join"), p.take(800))
  }

  test("winnowing is per-row array work — no join anywhere") {
    val p = plan("q_text_winnow")
    assert(!p.contains("Join"), p.take(800))
  }

  test("CUPED moments reach the variants as broadcasts, never a shuffle join") {
    val p = plan("q_cuped")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("square and K4 censuses never degrade to a cartesian product") {
    assert(!plan("q_graph_squares").contains("CartesianProduct"))
    assert(!plan("q_graph_k4").contains("CartesianProduct"))
  }

  test("q18 prunes via the aggregate semi-filter BEFORE the wide join") {
    val p = plan("q18_large")
    // the Σqty > 150 filter must appear as an aggregate below the first
    // join with orders — i.e. the big-orders frame is reduced first
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0, p.take(800))
    assert(p.indexOf("HashAggregate", joinIdx) >= 0, p.take(1200))
  }

  // ------------------------------------------------------------------
  // corpus-wide lint: the entire declared registry is scanned for the
  // single-partition total-order scale-killer class — a WindowExec with
  // an EMPTY partitionSpec ("moving all data to a single partition", as
  // Spark itself warns) whose input is not already cut by a limit.
  // Structurally bounded frames (a zero-partitionBy window ABOVE a
  // GlobalLimit/TakeOrderedAndProject — e.g. ranking a top-k list that
  // was already cut) are exempt by shape; semantically bounded frames
  // (calendar days, source/vocab rollups, ≤64 sketch buckets) are
  // whitelisted BY NAME with a justification each. Anything else fails
  // CI — this automates round 6's "What's wrong #1/#2" finding class.
  // ------------------------------------------------------------------

  /** name → why a zero-partitionBy window over this frame stays bounded
    * as the input grows 100× (the frame is keyed by something the data
    * volume does not grow: calendar, digit/cell count, ...). This list
    * is measured, not guessed: the stale-entry assert below fails on any
    * entry whose plan no longer carries a global window, and the
    * offender assert fails on any global window outside it. */
  private val boundedFrameWhitelist: Map[String, String] = Map(
    "q_autocorr"         -> "lag/lead over the DAILY revenue series: frame rows = distinct calendar days",
    "q_benford"          -> "window total over the 9-row first-digit frame: frame rows = 9 digits",
    "q_changepoint"      -> "CUSUM windows over the daily series: frame rows = distinct calendar days",
    "q_chi2"             -> "window total over the segment x priority cell frame: frame rows = 5x3 categories",
    "q_cumulative_users" -> "running sum over the daily new-user counts: frame rows = distinct calendar days",
    "q_interpolate"      -> "gap-fill windows over the daily series: frame rows = distinct calendar days",
    "q_mix_epochs"       -> "largest-remainder rank over the per-SOURCE rollup: frame rows = source catalog, not corpus size",
    "q_mom_growth"       -> "lag over the MONTHLY aggregate: frame rows = distinct months",
    "q_moving_avg"       -> "trailing-7 window over the daily series: frame rows = distinct calendar days",
    "q_quantile_sketch"  -> "cumulative window over the log2-bucket histogram: frame rows <= 64 buckets by construction",
    "q_sax_symbols"      -> "ntile over the WEEKLY aggregate: frame rows = distinct weeks",
    "q_text_heaps"       -> "growth-curve windows over the log-spaced prefix buckets: frame rows = fixed bucket count")

  // a limit only bounds a window frame when it is actually small —
  // same MaxLimitCut rule as the serial-stage whitelist (round-11
  // code review: the advice fix had been applied to scalarOrLimited
  // only, leaving limit(10M) able to excuse a global window)
  private def boundedByLimit(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
          if t.limit <= MaxLimitCut => true
      case l: org.apache.spark.sql.execution.GlobalLimitExec
          if l.limit <= MaxLimitCut => true
      case l: org.apache.spark.sql.execution.CollectLimitExec
          if l.limit <= MaxLimitCut => true
    }.nonEmpty

  private def globalWindowViolations(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty && !boundedByLimit(w.child) =>
        w.windowExpression.map(_.sql).mkString(", ").take(120)
    }

  // ---- serial-stage lint (round-9 verdict task 3) -------------------
  // The round-8 jaccard regression hid a broadcast build that executed
  // as ONE task (33 s serial stage) inside an otherwise-green plan for a
  // full round. This flags any stage the planner has ALREADY committed
  // to one partition while carrying a data-sized frame: a shuffle
  // exchange whose output partitioning has numPartitions == 1, a
  // coalesce(1), or a broadcast build over a single-partition child —
  // unless the subtree below is scalar (empty-grouping aggregate, ≤1 row
  // by construction) or already cut by a limit-class operator. Scalar
  // aggregates and top-k cuts are the only legitimate single-partition
  // citizens at 100 TB.

  /** True iff the frame this node PRODUCES is provably tiny: the node
    * itself is a scalar (empty-grouping) aggregate or a limit cut, seen
    * through row-preserving/row-reducing unaries (Project/Filter/Sort).
    * Deliberately NOT a collectFirst over the whole subtree — a scalar
    * aggregate buried somewhere below (e.g. a normalization divisor
    * joined into a data-sized frame) must not excuse a 1-partition
    * stage that carries the full frame (code-review r10). */
  /** A limit only excuses a 1-partition stage when it actually bounds
    * the frame to something driver-sized: limit(10_000_000) followed by
    * a 1-partition shuffle of a data-sized frame must still trip the
    * lint (round-11 advice). Every legitimate top-k cut in the corpus
    * is ≤ a few hundred rows; 10k leaves headroom without excusing
    * data-sized frames. */
  private val MaxLimitCut = 10000

  @annotation.tailrec
  private def scalarOrLimited(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p match {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
        t.limit <= MaxLimitCut
      case l: org.apache.spark.sql.execution.GlobalLimitExec => l.limit <= MaxLimitCut
      case l: org.apache.spark.sql.execution.CollectLimitExec => l.limit <= MaxLimitCut
      case l: org.apache.spark.sql.execution.LocalLimitExec => l.limit <= MaxLimitCut
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.groupingExpressions.isEmpty => true
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
          if a.groupingExpressions.isEmpty => true
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec
          if a.groupingExpressions.isEmpty => true
      case u: org.apache.spark.sql.execution.ProjectExec => scalarOrLimited(u.child)
      case u: org.apache.spark.sql.execution.FilterExec => scalarOrLimited(u.child)
      case u: org.apache.spark.sql.execution.SortExec => scalarOrLimited(u.child)
      case _ => false
    }

  private def serialStageViolations(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 && !scalarOrLimited(e.child) =>
        s"1-partition shuffle (${e.outputPartitioning}) over ${e.child.nodeName}"
      case c: org.apache.spark.sql.execution.CoalesceExec
          if c.numPartitions == 1 && !scalarOrLimited(c.child) =>
        s"coalesce(1) over ${c.child.nodeName}"
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.child.outputPartitioning.numPartitions == 1 && !scalarOrLimited(b.child) =>
        s"single-task broadcast build over ${b.child.nodeName}"
    }

  test("corpus-wide lint: no unbounded global window and no serial " +
    "1-partition stage in any declared plan") {
    val names = Queries.all.keys.toSeq.sorted
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val whitelistHits = scala.collection.mutable.Set[String]()
    names.foreach { name =>
      val df = Queries.all(name)(spark, sf)
      val plan = df.queryExecution.sparkPlan
      val v = globalWindowViolations(plan)
      if (v.nonEmpty) {
        if (boundedFrameWhitelist.contains(name)) whitelistHits += name
        else offenders += s"$name [window]: ${v.mkString(" | ")}"
      }
      serialStageViolations(plan).foreach { s =>
        offenders += s"$name [serial]: $s"
      }
      // registry queries persist/checkpoint internally during
      // construction — drop leftovers so the sweep doesn't accumulate
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    assert(offenders.isEmpty,
      s"scale-killer stage (single-partition sort/shuffle/build of a " +
        s"data-sized frame) in:\n  ${offenders.mkString("\n  ")}")
    // keep the whitelist honest: every entry must still be needed
    val stale = boundedFrameWhitelist.keySet -- whitelistHits
    assert(stale.isEmpty,
      s"stale whitelist entries (no global window in their plan anymore): $stale")
  }

  test("serial-stage lint self-check: a planted 1-partition shuffle is " +
    "caught; scalar aggregates and top-k cuts stay legitimate") {
    import org.apache.spark.sql.functions._
    val planted = spark.range(1000).toDF("id").repartition(1)
      .filter(col("id") > 10)
    assert(serialStageViolations(planted.queryExecution.sparkPlan).nonEmpty,
      "lint failed to flag a deliberately planted 1-partition shuffle:\n" +
        planted.queryExecution.sparkPlan.toString.take(800))
    val scalar = spark.range(1000).agg(sum(col("id")).as("s"))
    assert(serialStageViolations(scalar.queryExecution.sparkPlan).isEmpty,
      scalar.queryExecution.sparkPlan.toString.take(800))
    val topk = spark.range(1000).toDF("id").orderBy(col("id")).limit(5)
    assert(serialStageViolations(topk.queryExecution.sparkPlan).isEmpty,
      topk.queryExecution.sparkPlan.toString.take(800))
    // a scalar aggregate merely PRESENT in the subtree must not excuse a
    // 1-partition stage that carries the full frame (strict-descent
    // whitelist, code-review r10)
    val smuggled = spark.range(1000).toDF("id")
      .crossJoin(spark.range(1000).agg(sum(col("id")).as("s")))
      .repartition(1)
      .filter(col("id") > 10)
    assert(serialStageViolations(smuggled.queryExecution.sparkPlan).nonEmpty,
      "lint excused a 1-partition shuffle because a scalar agg appeared " +
        "below it:\n" + smuggled.queryExecution.sparkPlan.toString.take(1200))
    // a DATA-SIZED limit must not excuse the stage either: limit(10M)
    // over a data-sized frame followed by a 1-partition shuffle is still
    // a serial stage (round-11 advice — the limit-class whitelist is
    // bounded by MaxLimitCut, not limit's mere presence)
    val bigLimit = spark.range(1000).toDF("id").limit(10000000)
      .repartition(1).filter(col("id") > 10)
    assert(serialStageViolations(bigLimit.queryExecution.sparkPlan).nonEmpty,
      "lint excused a 1-partition shuffle behind a 10M-row limit:\n" +
        bigLimit.queryExecution.sparkPlan.toString.take(1200))
  }

  test("lint self-check: a planted global window is caught") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // a global running sum — nothing in the optimizer can bound it.
    // (a bare rank-filter would NOT do as the plant: Spark's
    // LimitPushDownThroughWindow pushes a Limit BELOW such a window,
    // making the frame bounded — which the lint correctly accepts)
    val planted = spark.range(100).toDF("id")
      .withColumn("cum", sum(col("id")).over(Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(globalWindowViolations(planted.queryExecution.sparkPlan).nonEmpty,
      "lint failed to flag a deliberately planted zero-partitionBy window")
    // and the scale-safe top-k form passes
    val safe = spark.range(100).toDF("id").orderBy(col("id")).limit(5)
    assert(globalWindowViolations(safe.queryExecution.sparkPlan).isEmpty)
  }

  // ---- expression-shape pin (round 7) ------------------------------

  test("wordNgramsAll binds its token expression once (HOF-lambda trap guard)") {
    import org.apache.spark.sql.functions.col
    import graft.text.TextFunctions
    // the fixed form is element_at(transform(array(<tok>), a -> ...), 1):
    // the caller's tok expression must appear as the OUTER transform's
    // input (evaluated once per row), never inside a lambda body where
    // Catalyst would re-evaluate it per element — the naive form cost
    // 15× on the sf0.1 10-gram explode (PLANS.md round 7)
    val top = TextFunctions.wordNgramsAll(
      TextFunctions.tokens(col("text")), 10).toString.replaceAll("\\s+", "")
    assert(top.startsWith("element_at(transform(array(split("),
      s"wordNgramsAll no longer binds the token array as the outer HOF input: $top")
  }

  /** Top-level expressions of `p` (subqueries included) holding an md5
    * nested under two or more lambdas. Catalyst does no subexpression
    * elimination inside higher-order-function lambdas, so such an md5
    * runs once per (element, outer iteration): the composed simhash32
    * hashed every shingle once per output bit. */
  private def nestedLambdaMd5(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, Md5}
    def trapped(e: Expression, depth: Int): Boolean = e match {
      case _: Md5 if depth >= 2 => true
      case l: LambdaFunction => l.children.exists(trapped(_, depth + 1))
      case o => o.children.exists(trapped(_, depth))
    }
    p.collectWithSubqueries { case n => n.expressions.filter(trapped(_, 0)) }
      .flatten.map(_.toString.take(200))
  }

  test("per-row kernels hash once per element: no md5 under two nested " +
    "lambdas in the dedup/text/multimodal/jaccard/ann/knn plans") {
    import org.apache.spark.sql.functions.{array, col, lit}
    // self-check: the composed simhash32 is the trap, the native one is
    // not (a non-local, non-literal input, so nothing folds the kernel away)
    val sh = spark.range(2).select(array(col("id").cast("string"), lit("x")).as("sh"))
    assert(nestedLambdaMd5(sh.select(PropertiesSpec.simhash32Composed(col("sh")))
      .queryExecution.optimizedPlan).nonEmpty)
    assert(nestedLambdaMd5(sh.select(graft.text.TextFunctions.simhash32(col("sh")))
      .queryExecution.optimizedPlan).isEmpty)
    val family = "^q_(dedup|text|multimodal|ann)_|^q_(jaccard|knn)".r
    val names = Queries.all.keys.filter(family.findFirstIn(_).nonEmpty).toSeq.sorted
    assert(names.contains("q_dedup_simhash"), names)
    val offenders = names.flatMap { name =>
      val hits = nestedLambdaMd5(Queries.all(name)(spark, sf).queryExecution.optimizedPlan)
      // registry queries persist/checkpoint internally during construction
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      hits.map(h => s"$name: $h")
    }
    assert(offenders.isEmpty,
      s"md5 re-evaluated per outer lambda iteration in:\n  ${offenders.mkString("\n  ")}")
  }

  // ---- TPC-H family pins (round 7) ---------------------------------

  test("q19: the OR-of-conjuncts predicate reaches BOTH parquet scans") {
    val p = plan("q19_orpred")
    // each scan's PushedFilters must carry the disjunction, not just
    // IsNotNull residue — split on scans and count the Or( pushdowns
    val pushed = "PushedFilters: \\[[^\\]]*Or\\(".r.findAllIn(p).size
    assert(pushed >= 2, "OR predicate not pushed to both scans:\n" + p.take(1500))
  }

  test("q21: subset-rule repartition — the pair-distinct never pays its own exchange") {
    val p = plan("q21_waiting")
    // the (orderkey, suppkey) distinct must run on the orderkey-only
    // partitioning (ClusteredDistribution subset rule); a regression
    // reintroduces a composite-key exchange under each distinct
    val pairExchange = "hashpartitioning\\(l_orderkey#\\d+L, l_suppkey".r
    assert(pairExchange.findFirstIn(p).isEmpty,
      "pair-key exchange reappeared under the distinct:\n" + p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // total shuffle-exchange count pin (round-8 verdict task 6): the
    // measured plan pays 4 — the two REPARTITION_BY_COL passes of
    // lineitem on l_orderkey (the subset-rule layout the multi-supplier
    // distinct and the waiting anti/semi joins share), the l_suppkey
    // exchange feeding the per-supplier count, and one ENSURE under the
    // exists/not-exists pair; a Spark upgrade or stats regression that
    // sneaks a fifth shuffle into this plan fails here
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 4,
      s"q21 shuffle-exchange count grew: $shuffles > 4\n" + p.take(2000))
  }

  test("q22: scalar threshold is a 1-row broadcast; idle filter an anti-join") {
    val p = plan("q22_idle")
    assert(p.contains("LeftAnti"), p.take(1200))
    // the only nested-loop join allowed is the 1-row scalar cross join
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("SortMergeJoin LeftAnti"), // anti must stay hash/broadcast
      "anti-join degraded to a sort-merge on the small side:\n" + p.take(1200))
  }

  test("q04: the correlated EXISTS is a semi-join with pushed date bounds") {
    val p = plan("q04_priority")
    assert(p.contains("LeftSemi"), p.take(1200))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "order-date window not pushed to the orders scan:\n" + p.take(1500))
  }

  test("fanout sampling counts with map-side partial aggregation") {
    // the sampled h1 frame is checkpointed (its per-vertex rank window
    // runs inside the checkpoint action), so the final plan is the
    // 2-hop join + count: assert it partial-aggregates before the
    // exchange and never degrades to a cartesian product
    val p = plan("q_graph_sample_fanout")
    assert(p.contains("partial_count"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("jaccardJoin candidate join: shuffled hash building on the index " +
    "side, one prefix exchange reused by both sides") {
    // Round-8 regression guard (verdict task 1): Catalyst's estimates
    // once elected a BROADCAST of the probe-side prefix whose build ran
    // as a single task (33 s of a 71 s query at sf0.1 — a serial stage
    // no cluster parallelizes). The repaired shape is pinned here: a
    // ShuffledHashJoin on tok with the (smaller, ilen-cut) index side
    // as BuildRight, and both join inputs fed by ONE repartition(tok)
    // exchange so the explode+shuffle of the prefix frame runs once.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val sets = graft.Tables(spark, sf).documents
      .select(col("doc_id"),
        graft.text.TextFunctions.shingleSet(col("text"), 8).as("items"))
    val (sorted, cand, _, _) = graft.dedup.Dedup.jaccardJoinStaged(sets, 80)
    // anchor the asserts on the JOIN NODES themselves (ADVICE r9: the
    // old string-split at the first "InMemoryTableScan" ran vacuously
    // whenever the cached frame's scan printed before the candidate
    // join). collect() naturally stops at the InMemoryTableScan LEAF, so
    // the cached token-sort build below it — which legitimately
    // broadcasts the small df frame — never reaches the negative assert.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    def top(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }
    val pre = top(cand.queryExecution.executedPlan)
    val shj = pre.collect { case j: ShuffledHashJoinExec => j }
    assert(shj.exists(j => j.leftKeys.exists(_.toString.contains("tok")) &&
        j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight),
      "candidate join is not a ShuffledHashJoin on tok building the " +
        "index side:\n" + pre.toString.take(2000))
    assert(pre.collect { case b: BroadcastHashJoinExec => b }.isEmpty,
      "candidate join degraded back to a broadcast on tok:\n" + pre.toString.take(2000))
    cand.count() // materialize so AQE resolves the final plan
    val post = top(cand.queryExecution.executedPlan)
    // no broadcast slipped in at RUNTIME either (AQE re-plan)
    assert(post.collect { case b: BroadcastHashJoinExec => b }.isEmpty,
      "AQE runtime-converted the candidate join to a broadcast:\n" + post.toString.take(2000))
    // r15: the prefix frame is a hash(tok)-DECLARED checkpoint, so both
    // join inputs read the one materialized layout and the join plans
    // with ZERO shuffles below it — strictly stronger than the r9 shape
    // this spec used to pin (one repartition exchange reused by both
    // sides via ReuseExchange, which broke once `sorted` became a
    // checkpoint leaf and the idx filter pushed below the repartition).
    // The explode+shuffle of the prefix runs exactly once either way;
    // assert no join input pays its own exchange.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    val below = post.collect { case j: ShuffledHashJoinExec => j }
      .flatMap(j => j.collect {
        case e: ShuffleExchangeLike => e: SparkPlan
        case q: ShuffleQueryStageExec => q: SparkPlan
      })
    assert(below.isEmpty,
      "candidate-join input pays its own prefix shuffle (declared " +
        "checkpoint layout not picked up):\n" + post.toString.take(2500))
    assert(post.toString.contains("Scan ExistingRDD"),
      "candidate join no longer reads the checkpointed prefix frame:\n"
        + post.toString.take(2500))
    org.apache.spark.sql.graft.CheckpointBridge.free(sorted)
    org.apache.spark.sql.graft.CheckpointBridge.free(cand)
  }
}
