package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge
import org.apache.spark.sql.graft.CheckpointBridge.{AdaptiveHash, Hash, Layout, Stats, Tally}

/** Contract of [[org.apache.spark.sql.graft.CheckpointBridge.materialize]].
  *
  * Scoping of its AQE-off planning (round-9 verdict task 4 / ADVICE):
  * the toggle that plans fixpoint round bodies non-adaptively is a
  * CLONED SESSION the input frame is rebound onto (`aqeOffTwin` — NOT a session-global
  * conf flip, and NOT a thread-local SQLConf, which measurably does not
  * scope physical planning on 4.1.2; see aqeOffTwin's scaladoc). So a
  * concurrent query on the caller's session must keep planning
  * adaptively, the caller's conf must never read "false", and two
  * overlapping fixpoints must not clobber each other (the old
  * read-flip-restore implementation could race two restores and leave
  * AQE permanently disabled for the session).
  */
class CheckpointBridgeSpec extends SparkSpec {

  test("withAqeOff is thread-scoped: concurrent queries stay adaptive, " +
    "session conf never flips, overlapping fused checkpoints are correct") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val pool = Executors.newFixedThreadPool(3)
    val start = new CountDownLatch(1)
    val stop = new AtomicBoolean(false)
    val confFlips = new AtomicInteger(0)
    val nonAdaptive = new AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // two writers run OVERLAPPING fused checkpoints (each plans its
    // round body AQE-off internally); a reader interleaves adaptive
    // queries and watches the session conf the whole time
    def fused(tag: String): Runnable = () => {
      start.await()
      try (1 to 8).foreach { _ =>
        val df = spark.range(200).toDF("id")
          .withColumn("act", col("id") % 2 === 0)
        val (ck, Tally(cnt, _, _)) = CheckpointBridge.materialize(df, Hash("id"), col("act"))
        if (cnt != 100L) failures.add(s"$tag: fused count $cnt != 100")
        CheckpointBridge.free(ck)
      } catch { case e: Throwable => failures.add(s"$tag: ${e.getMessage}") }
    }
    val fA = pool.submit(fused("A"))
    val fB = pool.submit(fused("B"))
    val fC = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try while (!stop.get()) {
          if (spark.conf.get("spark.sql.adaptive.enabled") != "true")
            confFlips.incrementAndGet()
          val q = spark.range(100).toDF("id")
            .groupBy((col("id") % 7).as("k")).count()
          if (q.collect().length != 7) failures.add("reader: wrong result")
          q.queryExecution.executedPlan match {
            case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => ()
            case other => nonAdaptive.incrementAndGet(); ()
          }
          if (spark.conf.get("spark.sql.adaptive.enabled") != "true")
            confFlips.incrementAndGet()
        } catch { case e: Throwable => failures.add(s"reader: ${e.getMessage}") }
      }
    })
    start.countDown()
    try {
      fA.get(180, TimeUnit.SECONDS)
      fB.get(180, TimeUnit.SECONDS)
    } finally {
      // a writer timeout/failure must not leave the reader spinning on a
      // non-daemon pool thread (suite hang instead of a clean failure)
      stop.set(true)
    }
    try fC.get(60, TimeUnit.SECONDS) finally pool.shutdownNow()
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    assert(confFlips.get() == 0,
      s"session-global AQE conf read 'false' ${confFlips.get()} times — the toggle leaked")
    assert(nonAdaptive.get() == 0,
      s"${nonAdaptive.get()} concurrent queries planned non-adaptively — the toggle leaked")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  /** One row per layout × metric kind of [[CheckpointBridge.materialize]]'s
    * contract table. The input is hash(id)-placed over 4 partitions (the
    * shuffle-partition count of the test session), so `Stats` without a
    * metric inherits a hash(id) layout from its physical plan and only
    * `Stats` with a metric declares no partitioning. */
  test("materialize contract: every layout and metric kind") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    val base = spark.range(1000)
      .withColumn("v", col("id") % 7)
      .withColumn("flag", col("id") % 3 === 0)
      .withColumn("d", (col("id") % 11).cast("double"))
      .repartition(4, col("id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3))).toSet
    val want = rows(base)
    def expected(m: Column, isCount: Boolean): Tally =
      if (isCount) {
        val n = base.filter(m).count()
        Tally(n, n.toDouble, if (n > 0) 1.0 else Double.NegativeInfinity)
      } else {
        val r = base.filter(m.isNotNull)
          .agg(count(lit(1)), sum(m.cast("double")), max(m.cast("double"))).first()
        Tally(r.getLong(0), r.getDouble(1), r.getDouble(2))
      }
    // the baseline the hash layouts beat: a plain localCheckpoint loses
    // partitioning under AQE, so a keyed aggregate over it reshuffles
    val plain = base.localCheckpoint().groupBy(col("id")).agg(sum(col("v")))
    plain.count()
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val layouts = Seq[Layout](Stats, Hash("id"), AdaptiveHash("id"))
    // (label, metric, boolean count?) — bare columns are read in place,
    // expressions and non-double numerics ride as a synthetic column
    val metrics = Seq[(String, Option[(Column, Boolean)])](
      "none" -> None,
      "boolean column" -> Some((col("flag"), true)),
      "boolean expression" -> Some((col("v") < 2, true)),
      "double column" -> Some((col("d"), false)),
      "long column" -> Some((col("v"), false)),
      "numeric expression" -> Some((col("d") * 2 - col("v"), false)))
    spark.sparkContext.addSparkListener(listener)
    try for (layout <- layouts; (label, metric) <- metrics) withClue(s"$layout × $label: ") {
      CheckpointBridge.drainListeners(spark)
      jobs.set(0)
      val (ck, tally) = metric match {
        case None =>
          (CheckpointBridge.materialize(base, layout), Tally(0L, 0.0, Double.NegativeInfinity))
        case Some((m, _)) => CheckpointBridge.materialize(base, layout, m)
      }
      CheckpointBridge.drainListeners(spark)
      // adaptivity: the AQE-off layouts materialize in ONE job; the
      // adaptive one pays its shuffle stage as a job of its own
      assert(jobs.get() == (if (layout.isInstanceOf[AdaptiveHash]) 2 else 1))
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(ck.columns.toSeq == base.columns.toSeq)
      assert(rows(ck) == want)
      metric.foreach { case (m, isCount) => assert(tally == expected(m, isCount)) }
      val leaf = ck.queryExecution.analyzed.collectLeaves().collectFirst {
        case l: LogicalRDD => l
      }.get
      val declared = leaf.outputPartitioning
      if (layout == Stats && metric.isDefined) assert(declared.isInstanceOf[UnknownPartitioning])
      else declared match {
        case h: HashPartitioning =>
          assert(h.numPartitions == 4)
          assert(h.expressions.map(_.toString.takeWhile(_ != '#')) == Seq("id"))
        case other => fail(s"declared $other, not hash(id)")
      }
      assert(leaf.stats.sizeInBytes == BigInt(CheckpointBridge.sizeOf(ck)))
      assert(leaf.stats.sizeInBytes < spark.sessionState.conf.defaultSizeInBytes)
      // a keyed aggregate plans no Exchange over a hash-declared frame,
      // and the returned frame plans adaptively on the caller's session
      val agg = ck.groupBy(col("id")).agg(sum(col("v")).as("s"))
      agg.count()
      assert(agg.queryExecution.executedPlan.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
      assert(agg.queryExecution.executedPlan.toString.contains("Exchange") ==
        declared.isInstanceOf[UnknownPartitioning],
        agg.queryExecution.executedPlan.toString.take(800))
      assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        want.map(r => (r._1, r._2)))
      metric.foreach { case (m, _) =>
        intercept[IllegalArgumentException](CheckpointBridge.materialize(
          base.withColumn("__graft_metric", lit(1)), layout, m))
      }
      CheckpointBridge.free(ck)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Each routine that checkpoints internally must release every block
    * it creates, save those of the frame it returns: a long-lived session
    * otherwise accumulates blocks until the ContextCleaner happens to
    * collect them. The rows are the loop drivers and staged Jaccard on
    * small fixtures, then every iterative, dedup, text and media query
    * (`q_graph_*`, `q_dedup_*`, `q_text_*`, `q_multimodal_*`, every
    * [[CorpusQueries]] entry, `q_item_cf`, `q_winnow_matches`) at sf0.001
    * through its full output, as Bench runs it. */
  test("leak invariant: loops and staged Jaccard strand no checkpoint") {
    import spark.implicits._
    import graft.graph.{Algos, Prep}
    val e = Prep.makeSymmetric(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L)).toDF("src", "dst"))
    val waitFor = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 6L)).toDF("src", "dst")
    val pairs = Seq((1L, 2L, 5L), (2L, 3L, 3L), (1L, 3L, 4L), (3L, 4L, 1L), (5L, 6L, 2L))
      .toDF("u", "v", "w")
    val sets = Seq((1L, Seq("a", "b", "c", "d")), (2L, Seq("a", "b", "c", "e")),
      (3L, Seq("x", "y")), (4L, Seq("x", "y", "z"))).toDF("doc_id", "items")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // a self-loop is the only pair no Boruvka round can merge: mst
    // returns an empty frame
    val noMerge = "mst with no merge"
    val cases = Seq[(String, () => Seq[org.apache.spark.sql.DataFrame])](
      "wcc" -> (() => Seq(Algos.wcc(e))),
      "pagerankConverged" -> (() => Seq(Algos.pagerankConverged(e, maxIters = 5)._1)),
      "labelProp via Pregel.run" -> (() => Seq(Algos.maxProp(e))),
      "sssp via Pregel.run" -> (() => Seq(Algos.sssp(e.withColumn("w", lit(1L)), 1L))),
      "pagerank via Pregel.iterate" -> (() => Seq(Algos.pagerank(e, 3))),
      "greedyColoring" -> (() => Seq(Algos.greedyColoring(e))),
      "lpa" -> (() => Seq(Algos.lpa(e, 3))),
      "anfSketch" -> (() => Seq(Algos.anfSketch(e, maxH = 2, numReg = 4))),
      "independentSet" -> (() => Seq(Algos.independentSet(e))),
      "kCore" -> (() => Seq(Algos.kCore(e, 2))),
      "rwrMulti" -> (() => Seq(Algos.rwrMulti(e, 2, 3))),
      "scc" -> (() => Seq(Algos.scc(waitFor))),
      "deadlock via reachable" -> (() => Seq(Algos.deadlock(waitFor))),
      "bowtie via reachable" -> (() => Seq(Algos.bowtie(waitFor))),
      "mst" -> (() => Seq(Algos.mst(pairs))),
      noMerge -> (() => Seq(Algos.mst(Seq((1L, 1L, 1L)).toDF("u", "v", "w")))),
      "hits" -> (() => Seq(Algos.hits(waitFor, 3))),
      "salsa" -> (() => Seq(Algos.salsa(waitFor, 3))),
      "maximalMatching" -> (() => Seq(Algos.maximalMatching(e))),
      "maxWeightMatching" -> (() =>
        Seq(Algos.maxWeightMatching(e.withColumn("w", col("src") * col("dst"))))),
      "temporalReach" -> (() =>
        Seq(Algos.temporalReach(waitFor.withColumn("t", col("src")), 1L, 3))),
      "leafPeelCounts" -> (() => Seq(Algos.leafPeelCounts(e, 3))),
      "betweenness" -> (() => Seq(Algos.betweenness(e, Seq(1L, 4L)))),
      "bpeTrain" -> (() => Seq(graft.pipeline.Corpus.bpeTrain(
        Seq("abab abc", "aab bab", "abc").toDF("text"), 3))),
      // a throwing row returns no frame
      "neighborhoodFunction over its size gate" -> (() => {
        intercept[IllegalStateException](
          Algos.neighborhoodFunction(e, maxH = 4, sampleMod = 1L, maxPairs = 5L))
        Nil
      }),
      "q_markov_attribution" -> (() =>
        Seq(graft.Queries.all("q_markov_attribution")(spark, "/root/testdata/sf0.001"))),
      "jaccardJoinStaged" -> (() => {
        val (sorted, cand, scored, out) = graft.dedup.Dedup.jaccardJoinStaged(sets, 50)
        Seq(sorted, cand, scored, out)
      }))
    val queries = SparkEntry.queries.keys.toSeq.sorted.filter(q =>
      Seq("q_graph_", "q_dedup_", "q_text_", "q_multimodal_").exists(q.startsWith) ||
        CorpusQueries.queries.exists(_.name == q) || q == "q_item_cf" || q == "q_winnow_matches")
    assert(queries.size == 140, queries)
    val sf = "/root/testdata/sf0.001"
    // hold every RDD persisted by the start of each job: a stranded
    // checkpoint that is strongly reachable cannot be collected by the
    // ContextCleaner, so a leak cannot hide behind a garbage collection
    // during the query
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.rdd.RDD[_]]()
    val pin = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        spark.sparkContext.getPersistentRDDs.values.foreach(held.add); ()
      }
    }
    val stranded = Seq.newBuilder[String]
    // release what the caller owns (each result frame's checkpoint
    // leaves), then record and drop whatever else the row left behind
    def check(name: String, before: Set[Int],
              frames: Seq[org.apache.spark.sql.DataFrame]): Unit = {
      CheckpointBridge.drainListeners(spark)
      frames.foreach(CheckpointBridge.free)
      val leaked = persisted -- before
      if (leaked.nonEmpty) {
        stranded += s"$name (${leaked.size})"
        leaked.foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      }
      held.clear()
    }
    val t0 = System.nanoTime()
    spark.sparkContext.addSparkListener(pin)
    try {
      cases.foreach { case (name, run) =>
        val before = persisted
        val frames = run()
        frames.lastOption.foreach(f => assert((f.count() > 0L) == (name != noMerge), name))
        check(name, before, frames)
      }
      queries.foreach { q =>
        val before = persisted
        val df = SparkEntry.queries(q)(spark, sf)
        graft.obs.Recorder.fullOutput(df)
        check(q, before, Seq(df))
      }
    } finally spark.sparkContext.removeSparkListener(pin)
    info(f"${cases.size + queries.size} rows in ${(System.nanoTime() - t0) / 1e9}%.0f s")
    val leaks = stranded.result()
    assert(leaks.isEmpty, s"${leaks.size} rows stranded persistent RDDs: ${leaks.mkString(", ")}")
  }
}
