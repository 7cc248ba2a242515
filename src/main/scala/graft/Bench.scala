package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  /** One query's bench record: full-output seconds (negative on failure),
    * the frame-build seconds inside them, and jobs and GC ms of that run. */
  private final case class Timed(name: String, s: Double, buildS: Double, jobs: Int, gcMs: Long)

  /** Run settings shared with graft.tools.Profile. The driver's contract:
    * honor SPARK_GRAFT_CPUS verbatim (it runs the bench at a lower width
    * too, to measure per-query scaling); every artifact is stamped and
    * named with its width instead. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  def passes: Int = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)

  /** The queries to run, name-sorted: those SPARK_GRAFT_ONLY names
    * (comma-separated), else all of them. Shared with graft.Verify; an
    * unknown name throws. */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] =
    Queries.select(sys.env.get("SPARK_GRAFT_ONLY")
      .fold(Queries.all.keys.toSeq)(_.split(",").toSeq).distinct.sorted)

  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDir
    val cpus = Bench.cpus
    val selected = Bench.selected
    val spark = LocalScratch.fast(LocalLiveness.local(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-query jobs and GC ms next to seconds: the adjudication channels
    // for wall-time deltas (see graft.obs.Recorder)
    val recorder = new graft.obs.Recorder(spark)
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
      Tables.parquet(spark, s"$sfDir/lineitem.parquet")
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
    // name-sorted: a stable, documented order makes per-query times
    // comparable across rounds (Map hash order reshuffles whenever the
    // query set changes, moving JIT/GC position effects between queries)
    def runPass(): Seq[Timed] = selected.map { case (name, fn) =>
      // the timed action is the query's full output, the rows Verify
      // writes: a count() lets Catalyst prune per-row kernels away
      val m = recorder.measureQuery(fn(spark, sfDir))(graft.obs.Recorder.fullOutput)
      // A failed query must be UN-MASKABLE: record a NEGATIVE elapsed
      // time and log it. (Round 5 silently recorded 20 analysis-time
      // failures as 0.06-0.13s "successes", hiding a full breakage.)
      m.error.foreach(e => System.err.println(s"[bench] $name FAILED: ${e.getMessage}"))
      Timed(name, if (m.ok) m.seconds else -m.seconds, m.buildSeconds, m.jobs, m.gcMs)
    }
    var lastCompact = ""
    // Round to ms: full double reprs pushed the round-4 line past what the
    // harness captured whole (BENCH_r04 `total` arrived truncated
    // mid-number). Headline fields lead the object so a tail truncation
    // can only ever cost per-query detail, never the total.
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def emit(results: Seq[Timed], passTotals: Seq[Double], nPasses: Int): Unit = {
      def obj(v: Timed => String) =
        results.map(t => "\"" + t.name + "\":" + v(t)).mkString("{", ",", "}")
      // deterministic per-query job counts (the adjudication metric for
      // wall-time deltas — see graft.obs.Recorder); reported with the
      // build seconds and GC ms of the pass that won on wall time
      val (qs, bs, js, gs) = (obj(t => f(t.s)), obj(t => f(t.buildS)),
        obj(_.jobs.toString), obj(_.gcMs.toString))
      // total sums SUCCESSFUL queries only; failures (negative entries)
      // are surfaced in an explicit errors list so they never read fast.
      val total = results.map(_.s).filter(_ >= 0).sum
      val errs = results.filter(_.s < 0).map("\"" + _.name + "\"")
      val passes = passTotals.map(f).mkString("[", ",", "]")
      // local_dir: the scratch resolution this run actually used — a
      // silent tmpfs→disk flip is a ×1.69-class wall swing (round-12
      // adjudication) and must be readable off the artifact itself
      // (round-13 advice), not reconstructed from session logs.
      val line =
        s"""{"metric":"total","value":${f(total)},"unit":"sec","cpus":$cpus,"n_passes":$nPasses,"pass_totals":$passes,"n_err":${errs.size},"errors":${errs.mkString("[", ",", "]")},"sf":"$sfDir","local_dir":"${LocalScratch.resolved}","queries":$qs,"build_s":$bs,"jobs":$js,"gc_ms":$gs}"""
      println(line)
      // Belt-and-braces: also persist the full line to a file the judge
      // can read even if the stdout capture clips. Both files are named
      // by width, so a run at one width never overwrites another's.
      java.nio.file.Files.write(java.nio.file.Paths.get(s"bench_out_c$cpus.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // Compact trailer (round-12 verdict task 5): the driver snapshots
      // only the last ~2000 chars of sbt output and the full line above
      // never fits — this headline-only line does, so BENCH_r*.json is
      // self-contained (bench_out_c{cpus}.json stays the artifact of record).
      // Also persisted to a fixed side-channel file and re-printed as
      // the process's last stdout line after spark.stop() (round-13
      // verdict task 7): the driver's snapshot window must never find
      // shutdown logging where the headline should be.
      lastCompact =
        s"""{"metric":"total","value":${f(total)},"unit":"sec","cpus":$cpus,"n":${results.size},"n_passes":$nPasses,"n_err":${errs.size},"sf":"$sfDir","local_dir":"${LocalScratch.resolved}","compact":true}"""
      println(lastCompact)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"bench_compact_c$cpus.json"),
        (lastCompact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // Noise robustness (round-6 ask): the one-JVM 263-query suite shows
    // 2-3× suite-position noise on sub-second queries (twice adjudicated
    // by standalone probes). Run the suite TWICE and report the
    // per-query MIN — the minimum of two runs strips position noise
    // while remaining an honest achievable time. The artifact is
    // (re)written after EVERY pass, so a harness timeout mid-pass-2
    // still leaves a complete, correctly-flagged single-pass artifact.
    val nPasses = Bench.passes
    val p1 = runPass()
    emit(p1, Seq(p1.map(_.s).filter(_ >= 0).sum), 1)
    var best = p1
    var totals = Seq(p1.map(_.s).filter(_ >= 0).sum)
    (2 to nPasses).foreach { _ =>
      val p = runPass()
      totals :+= p.map(_.s).filter(_ >= 0).sum
      // per-query min on wall time, with (time, build, jobs, gc_ms) kept
      // together from the pass that won — independent mins could pair pass
      // A's time with pass B's job count (notably: a pass that FAILED
      // early has fewer jobs, and that count must never annotate a
      // healthy pass's time — round-11 advice). An error in any pass keeps
      // the query flagged (sticky negative) — a flaky failure must stay
      // visible.
      best = best.zip(p).map { case (b, t) =>
        if (b.s < 0) b else if (t.s < 0 || t.s < b.s) t else b
      }
      emit(best, totals, totals.size)
    }
    spark.stop()
    // the very last stdout line of the run is the compact headline —
    // whatever the driver's tail window captures, it ends with JSON
    println(lastCompact)
  }
}
