package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Per-query Spark JOB counts emitted next to seconds in the bench
    * JSON (round-9 verdict task 2). Wall time in the one-JVM 275-query
    * suite carries ±2-3× position noise (twice adjudicated by
    * standalone probes); the job count is deterministic for a fixed
    * binary+plan, so the adjudication rule is: a wall-time delta with
    * UNCHANGED job count is suite noise, a job-count delta is a real
    * plan/driver-bill change. Counted via SparkListener and read only
    * after a deterministic listener-bus drain (events are async). */
  private val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The driver's contract: honor SPARK_GRAFT_CPUS verbatim (it runs the
    // bench at a LOWER width too, to measure per-query scaling — a fatal
    // gate here killed the r14 scaling run, VERDICT r14 task 2a). The
    // mislabeled-artifact risk the old gate addressed is covered by
    // stamping "cpus" into every emitted JSON line: the artifact
    // self-describes its width instead of refusing to exist.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalScratch.fast(LocalLiveness.widen(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCounter.incrementAndGet(); ()
      }
    })
    // Untimed warmup: exercise the scan/shuffle/agg/join/codegen paths so
    // JIT cold-start lands here, not on whichever query happens to run
    // first (measured multi-second first-query penalties otherwise).
    locally {
      import org.apache.spark.sql.functions._
      val w = spark.range(2000000).select(col("id"), pmod(xxhash64(col("id")), lit(97)).as("k"))
      w.groupBy("k").count().join(w, "k").filter(md5(col("id").cast("string")) > "0").count()
      // warm the vectorized parquet reader + decimal agg codegen on the
      // actual tables: the suite runs name-sorted, so whichever query
      // sorts first (q01_agg) otherwise absorbs the page-in/JIT cost of
      // the entire scan path (measured 4.6x inflation in round 4)
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").agg(sum("l_quantity"), avg("l_extendedprice")).count()
      // the dedup family's per-row md5 kernels (MinhashSignature, the
      // Simhash expression behind both simhash32 and simhash60, and
      // shingling) are shared interpreted expressions — one small pass
      // here C2-compiles them so no measured query pays the multi-second
      // cold-JIT penalty for the whole family. Both widths run the same
      // Simhash.eval, so the simhash60 call also compiles simhash32's path.
      import graft.text.TextFunctions._
      val docs = spark.range(3000).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 30).map(i =>
          md5(concat(col("id").cast("string"), lit(s":$i")))): _*).as("text"))
      // first(), not count(): count() over the aggregate lets column
      // pruning drop the sums AND the kernel projections feeding them —
      // the warmup would be a no-op over a pruned scan. bit_xor, not
      // sum: s60 values are up to 2^60 and ANSI mode throws on a long
      // overflow instead of wrapping.
      docs.select(
          minhashSignature(shingleSet(col("text"), 8), 16).as("sig"),
          simhash60(shingleSet(col("text"), 8)).as("s60"))
        .select((sum(length(element_at(col("sig"), 1))) + bit_xor(col("s60"))).as("w"))
        .first()
    }
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // cumulative stop-the-world GC milliseconds across all collectors —
    // sampled before/after each timed window so every per-query wall
    // number carries its own GC bill. Second adjudication signal next to
    // job counts: a wall spike with frozen jobs AND a matching gc_ms
    // spike is JVM noise (heap position effects), not a plan change.
    import scala.jdk.CollectionConverters._
    def gcMs(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    // name-sorted: a stable, documented order makes per-query times
    // comparable across rounds (Map hash order reshuffles whenever the
    // query set changes, moving JIT/GC position effects between queries)
    def runPass(): Seq[(String, Double, Int, Long)] = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        jobCounter.set(0)
        val g0 = gcMs()
        val t0 = System.nanoTime()
        // A failed query must be UN-MASKABLE: record a NEGATIVE elapsed
        // time and log it. (Round 5 silently recorded 20 analysis-time
        // failures as 0.06-0.13s "successes", hiding a full breakage.)
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
        val dt0 = (System.nanoTime() - t0) / 1e9
        val gc = gcMs() - g0
        val dt = if (ok) dt0 else -dt0
        // job count read AFTER the bus drain (async delivery) and OUTSIDE
        // the timed window — the drain is bookkeeping, not query cost
        org.apache.spark.sql.graft.CheckpointBridge.drainListeners(spark)
        val jobs = jobCounter.get()
        // harness hygiene runs OUTSIDE the timed window — it's
        // between-query bookkeeping, not query cost:
        // clearCache drops only catalog-tracked datasets; localCheckpoint
        // blocks live as plain persistent RDDs and would otherwise pile up
        // across 60+ queries, eating storage memory from later ones
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        // with a 48g heap G1 hardly ever collects, so ContextCleaner
        // (GC-triggered) never reclaims dead broadcasts/accumulators and
        // they accumulate across the run — nudge it between queries
        System.gc()
        (name, dt, jobs, gc)
      }
    var lastCompact = ""
    // Round to ms: full double reprs pushed the round-4 line past what the
    // harness captured whole (BENCH_r04 `total` arrived truncated
    // mid-number). Headline fields lead the object so a tail truncation
    // can only ever cost per-query detail, never the total.
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def emit(results: Seq[(String, Double, Int, Long)], passTotals: Seq[Double],
             nPasses: Int): Unit = {
      val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      // deterministic per-query job counts (the adjudication metric for
      // wall-time deltas — see scaladoc on jobCounter); reported as the
      // (time, jobs, gc_ms) TRIPLE of the pass that won on wall time
      val js = results.map { case (k, _, j, _) => s"\"" + k + "\":" + j }
        .mkString("{", ",", "}")
      val gs = results.map { case (k, _, _, g) => s"\"" + k + "\":" + g }
        .mkString("{", ",", "}")
      // total sums SUCCESSFUL queries only; failures (negative entries)
      // are surfaced in an explicit errors list so they never read fast.
      val total = results.map(_._2).filter(_ >= 0).sum
      val errs = results.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }
      val passes = passTotals.map(f).mkString("[", ",", "]")
      // local_dir: the scratch resolution this run actually used — a
      // silent tmpfs→disk flip is a ×1.69-class wall swing (round-12
      // adjudication) and must be readable off the artifact itself
      // (round-13 advice), not reconstructed from session logs.
      val line =
        s"""{"metric":"total","value":${f(total)},"unit":"sec","cpus":$cpus,"n_passes":$nPasses,"pass_totals":$passes,"n_err":${errs.size},"errors":${errs.mkString("[", ",", "]")},"sf":"$sfDir","local_dir":"${LocalScratch.resolved}","queries":$qs,"jobs":$js,"gc_ms":$gs}"""
      println(line)
      // Belt-and-braces: also persist the full line to a file the judge
      // can read even if the stdout capture clips.
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // Compact trailer (round-12 verdict task 5): the driver snapshots
      // only the last ~2000 chars of sbt output and the full line above
      // never fits — this headline-only line does, so BENCH_r*.json is
      // self-contained (bench_out.json stays the artifact of record).
      // Also persisted to a fixed side-channel file and re-printed as
      // the process's last stdout line after spark.stop() (round-13
      // verdict task 7): the driver's snapshot window must never find
      // shutdown logging where the headline should be.
      lastCompact =
        s"""{"metric":"total","value":${f(total)},"unit":"sec","cpus":$cpus,"n":${results.size},"n_passes":$nPasses,"n_err":${errs.size},"sf":"$sfDir","local_dir":"${LocalScratch.resolved}","compact":true}"""
      println(lastCompact)
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_compact.json"),
        (lastCompact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // Noise robustness (round-6 ask): the one-JVM 263-query suite shows
    // 2-3× suite-position noise on sub-second queries (twice adjudicated
    // by standalone probes). Run the suite TWICE and report the
    // per-query MIN — the minimum of two runs strips position noise
    // while remaining an honest achievable time. The artifact is
    // (re)written after EVERY pass, so a harness timeout mid-pass-2
    // still leaves a complete, correctly-flagged single-pass artifact.
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    val p1 = runPass()
    emit(p1, Seq(p1.map(_._2).filter(_ >= 0).sum), 1)
    var best = p1.map { case (k, v, j, g) => k -> ((v, j, g)) }.toMap
    var totals = Seq(p1.map(_._2).filter(_ >= 0).sum)
    (2 to nPasses).foreach { _ =>
      val p = runPass()
      totals :+= p.map(_._2).filter(_ >= 0).sum
      // per-query min on wall time, with (time, jobs) kept as a PAIR
      // from the pass that won — independent mins could pair pass A's
      // time with pass B's job count (notably: a pass that FAILED early
      // has fewer jobs, and that count must never annotate a healthy
      // pass's time — round-11 advice). An error in any pass keeps the
      // query flagged (sticky negative) — a flaky failure must stay
      // visible.
      best = p.map { case (k, v, j, g) =>
        val (pv, pj, pg) = best.getOrElse(k, (v, j, g))
        k -> (if (pv < 0) (pv, pj, pg)
              else if (v < 0 || v < pv) (v, j, g)
              else (pv, pj, pg))
      }.toMap
      emit(p1.map { case (k, _, _, _) =>
        val (v, j, g) = best(k); (k, v, j, g)
      }, totals, totals.size)
    }
    spark.stop()
    // the very last stdout line of the run is the compact headline —
    // whatever the driver's tail window captures, it ends with JSON
    println(lastCompact)
  }
}
