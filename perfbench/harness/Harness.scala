package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{LocalLiveness, LocalScratch, SparkEntry}

/** JVM side of the benchmark: one closed-loop client.
  *
  * One SparkSession at local[cpus], built the way `graft.Bench` builds it
  * (LocalScratch.fast + LocalLiveness.widen). The client runs the
  * workload's queries back to back, one at a time, and times each query's
  * FULL output through Spark's `noop` sink: a `count()` lets Catalyst
  * prune per-row kernels away.
  *
  * A launch sets up: it builds the session and registers the seeded
  * inputs that run.py wrote. It then runs one cold pass that writes every
  * output as parquet, for run.py's DuckDB oracle check. With `--warm 1`
  * (the default) warm passes into the `noop` sink follow: `WarmupPasses`
  * that are not measured, then measured ones until `--seconds` have
  * elapsed, at least `MinTimedPasses`. With `--trace 1` the measured passes
  * alternate untraced and traced, so the tracing overhead is measured
  * inside the same launch. With `--warm 0` the launch ends after the cold
  * pass: run.py makes such launches to take more than one sample of the
  * set-up and the cold pass in a run.
  *
  * Everything is written to one JSON file (`--result`); run.py turns it
  * into metrics. Usage (all flags required unless noted):
  * {{{
  * Harness --inputs DIR --queries q1,q2 --result FILE --check-out DIR
  *         --launch-epoch-us T [--seconds S] [--trace 0|1] [--warm 0|1]
  * }}}
  */
object Harness {
  /** Timed warm passes a launch makes at least, so that a traced run has
    * one untraced and one traced pass. */
  val MinTimedPasses = 2

  /** Unmeasured warm passes after the cold one. Right after the cold pass
    * the JIT is still compiling, and the first six or so passes each run
    * faster than the one before. */
  val WarmupPasses = 6

  /** Tables the queries read, as `<name>.parquet` under a directory. */
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val traced = opt.getOrElse("trace", "0") == "1"
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val inputs = opt("inputs")

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = LocalScratch.fast(LocalLiveness.widen(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerInputs(inputs)
    val setupS = java.time.Duration.between(
      epochUs(opt("launch-epoch-us").toLong), java.time.Instant.now()).toNanos / 1e9

    val out = new Json().num("setup_s", setupS).num("cpus", cpus)
      .num("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
      .str("local_scratch", LocalScratch.resolved)
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val client = new Client(spark, inputs, names)
    // The cold pass writes every output as parquet, as a submitted job
    // would; run.py checks those files against the DuckDB oracle.
    val cold = client.pass(new ParquetSink(opt("check-out")))
    val oracle = new Json
    names.foreach(n => SparkEntry.oracleSql.get(n).foreach(oracle.str(n, _)))
    out.num("cold_pass_s", cold.wallS)
      .num("jit_ms_setup_cold", ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
      .raw("cold_pass", cold.json).raw("oracle_sql", oracle.render)

    val passes = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    if (opt.getOrElse("warm", "1") == "1") {
      val tracer = if (traced) Some(new Tracer(spark, cpus)) else None
      (0 until WarmupPasses).foreach(_ => passes += client.pass(Noop, warmup = true).json)
      // Untraced and traced measured passes alternate, so both halves see
      // the same mix of heap and JIT states.
      val t1 = System.nanoTime()
      var i = 0
      while (i < MinTimedPasses || (System.nanoTime() - t1) / 1e9 < seconds) {
        passes += client.pass(Noop, tracer.filter(_ => i % 2 == 1)).json
        i += 1
      }
    }
    out.raw("warm_passes", passes.mkString("[", ",", "]"))
      .num("warm_s", (System.nanoTime() - t0) / 1e9)
      .num("heap_peak_mb", client.heapPeakBytes / 1048576.0)
    Files.write(Paths.get(opt("result")), (out.render + "\n").getBytes(UTF_8))
    // Nothing after the result is measured and run.py deletes the launch's
    // scratch, so the launch ends here: spark.stop() would spend another
    // 2-3 s in Netty's graceful-shutdown quiet period.
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  private def epochUs(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)

  /** graft's queries take the input directory and read the tables from it
    * themselves, so registering the inputs is checking that each is there. */
  def registerInputs(dir: String): Unit = Tables.foreach { t =>
    require(Files.exists(Paths.get(s"$dir/$t.parquet")), s"missing input table $t under $dir")
  }

  sealed trait Sink { def write(name: String, df: DataFrame): Unit }
  object Noop extends Sink {
    def write(name: String, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
  }
  final class ParquetSink(dir: String) extends Sink {
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name")
  }

  final case class QueryRun(name: String, error: Option[String], buildS: Double,
      outputS: Double, gcS: Double, liveRdds: Int) {
    def wallS: Double = buildS + outputS
    def json: String = {
      val j = new Json().str("name", name).num("build_s", buildS)
        .num("output_s", outputS).num("gc_s", gcS).num("live_rdds", liveRdds)
      error.foreach(j.str("error", _))
      j.render
    }
  }

  final case class Pass(queries: Seq[QueryRun], traced: Option[String], warmup: Boolean) {
    def wallS: Double = queries.map(_.wallS).sum
    def json: String = {
      val j = new Json().num("wall_s", wallS).num("warmup", if (warmup) 1L else 0L)
        .raw("queries", queries.map(_.json).mkString("[", ",", "]"))
      traced.foreach(j.raw("trace", _))
      j.render
    }
  }

  /** Runs the queries back to back. Only the query call and its output
    * write are timed; the hygiene between queries (clearCache, unpersist,
    * System.gc) runs outside the timed window, after the persistent RDDs
    * still registered are counted. */
  final class Client(spark: SparkSession, inputs: String, names: Seq[String]) {
    /** Peak of the live old-generation heap between queries. */
    var heapPeakBytes = 0L

    def pass(sink: Sink, tracer: Option[Tracer] = None, warmup: Boolean = false): Pass = {
      tracer.foreach(_.start())
      val runs = names.map(run(_, sink, tracer.isDefined))
      Pass(runs, tracer.map(_.stop(runs)), warmup)
    }

    private def run(name: String, sink: Sink, drain: Boolean): QueryRun = {
      val g0 = gcMs()
      val t0 = System.nanoTime()
      var t1 = 0L
      val error =
        try {
          val df = SparkEntry.queries(name)(spark, inputs)
          t1 = System.nanoTime()
          sink.write(name, df)
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name FAILED: $e")
            Some(String.valueOf(e).take(500))
        }
      val t2 = System.nanoTime()
      val gcS = (gcMs() - g0) / 1e3
      if (t1 == 0L) t1 = t2
      if (drain) org.apache.spark.sql.graft.CheckpointBridge.drainListeners(spark)
      val live = spark.sparkContext.getPersistentRDDs.size
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      heapPeakBytes = math.max(heapPeakBytes, oldGenAfterGcBytes())
      System.err.println(f"[perfbench] $name%s build ${(t1 - t0) / 1e9}%.3f s output ${(t2 - t1) / 1e9}%.3f s")
      QueryRun(name, error, (t1 - t0) / 1e9, (t2 - t1) / 1e9, gcS, live)
    }
  }

  /** Old-generation heap in use after the last collection. Read right
    * after a `System.gc()`, which runs a full collection, it is the live
    * old-generation data. */
  def oldGenAfterGcBytes(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Modules a job is attributed to, by the first `graft.<m>` frame of its
    * call site, or else of its SQL execution's call site (jobs that AQE or
    * a broadcast start from Spark's own threads carry no user frames).
    * Frames in the top-level `graft` package (Queries, TpchQueries, ...)
    * count as `queries`; other graft packages as `other`; a job with no
    * graft frame was started by the harness's output write: `output`. */
  val Modules: Seq[String] = Seq("graph", "dedup", "text", "functions", "pipeline",
    "operators", "sim", "multimodal", "queries", "other", "output")
  private val GraftFrame = """^\s*(?:at\s+)?graft\.([A-Za-z_$0-9]+)\.""".r.unanchored

  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.collectFirst { case GraftFrame(first) => first }.map {
      case p if p.head.isUpper => "queries"
      case p if Modules.contains(p) => p
      case _ => "other"
    }

  /** One SparkListener plus one QueryExecutionListener. Attached only to
    * traced passes; a traced pass drains the listener bus after each
    * query (outside its timed window) so every event is counted. */
  final class Tracer(spark: SparkSession, cpus: Int) {
    private final case class Job(start: Long, module: String, var end: Long = -1L)
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val executionModule = mutable.Map.empty[Long, Option[String]]
    private var stages, tasks, executions = 0L
    private var taskRunMs, taskDurMs = 0L
    private var taskCpuNs, shuffleRead, shuffleWrite, spillDisk, peakExec = 0L
    private val phaseMs = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)

    private val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
          executionModule(s.executionId) = moduleOf(s.details)
        }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
        val execution = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => executionModule.get(id.toLong)).flatten
        jobs(e.jobId) = Job(e.time, moduleOf(site).orElse(execution).getOrElse("output"))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Tracer.this.synchronized { stages += 1 }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        tasks += 1
        taskDurMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          taskRunMs += m.executorRunTime
          taskCpuNs += m.executorCpuTime
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spillDisk += m.diskBytesSpilled
          peakExec = math.max(peakExec, m.peakExecutionMemory)
        }
      }
    }
    private val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
        executions += 1
        qe.tracker.phases.foreach { case (phase, s) =>
          if (phaseMs.contains(phase)) phaseMs(phase) += s.durationMs
        }
      }
    }
    private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

    def start(): Unit = {
      // events of the untraced pass before must not reach the listener
      org.apache.spark.sql.graft.CheckpointBridge.drainListeners(spark)
      reset()
      spark.sparkContext.addSparkListener(listener)
      classic.listenerManager.register(qeListener)
    }

    private def reset(): Unit = synchronized {
      jobs.clear(); executionModule.clear(); stages = 0; tasks = 0; executions = 0
      taskRunMs = 0; taskDurMs = 0
      taskCpuNs = 0; shuffleRead = 0; shuffleWrite = 0; spillDisk = 0; peakExec = 0
      phaseMs.keys.foreach(phaseMs(_) = 0L)
    }

    /** Detaches the listeners and renders the pass's per-layer metrics. */
    def stop(runs: Seq[QueryRun]): String = {
      org.apache.spark.sql.graft.CheckpointBridge.drainListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
      classic.listenerManager.unregister(qeListener)
      synchronized {
        val wallS = runs.map(_.wallS).sum
        val all = jobs.values.toSeq.filter(_.end >= 0)
        val inJobsS = unionMs(all) / 1e3
        val taskRunS = taskRunMs / 1e3
        val j = new Json()
          .num("queries.build_s", runs.map(_.buildS).sum)
          .num("queries.output_s", runs.map(_.outputS).sum)
          .num("spark.jobs", jobs.size).num("spark.stages", stages).num("spark.tasks", tasks)
          .num("spark.in_jobs_s", inJobsS)
          .num("spark.outside_jobs_s", wallS - inJobsS)
          .num("catalyst.executions", executions)
          .num("catalyst.analysis_ms", phaseMs("analysis"))
          .num("catalyst.optimization_ms", phaseMs("optimization"))
          .num("catalyst.planning_ms", phaseMs("planning"))
          .num("spark.task_run_s", taskRunS)
          .num("spark.task_cpu_s", taskCpuNs / 1e9)
          .num("spark.task_overhead_s", (taskDurMs - taskRunMs) / 1e3)
          .num("spark.core_util", if (inJobsS > 0) taskRunS / (inJobsS * cpus) else 0.0)
          .num("spark.shuffle_read_mb", shuffleRead / 1048576.0)
          .num("spark.shuffle_write_mb", shuffleWrite / 1048576.0)
          .num("spark.spill_disk_mb", spillDisk / 1048576.0)
          .num("spark.peak_exec_mem_mb", peakExec / 1048576.0)
          .num("checkpoint.live_rdds", runs.map(_.liveRdds).sum)
          .num("jvm.gc_s", runs.map(_.gcS).sum)
        Modules.foreach { m =>
          val mine = all.filter(_.module == m)
          j.num(s"module.$m.jobs", mine.size)
            .num(s"module.$m.in_jobs_s", unionMs(mine) / 1e3)
        }
        j.render
      }
    }

    /** Length of the union of the jobs' [start, end] intervals. */
    private def unionMs(js: Seq[Job]): Long = {
      var total, curS, curE = 0L
      var open = false
      js.map(j => (j.start, j.end)).sortBy(_._1).foreach { case (s, e) =>
        if (open && s <= curE) curE = math.max(curE, e)
        else {
          if (open) total += curE - curS
          curS = s; curE = e; open = true
        }
      }
      if (open) total += curE - curS
      total
    }
  }

  /** Minimal JSON object writer: numbers, strings and pre-rendered values. */
  final class Json {
    private val parts = mutable.ArrayBuffer.empty[String]
    def num(k: String, v: Double): Json = {
      parts += s"${q(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"; this
    }
    def num(k: String, v: Long): Json = { parts += s"${q(k)}:$v"; this }
    def str(k: String, v: String): Json = { parts += s"${q(k)}:${q(v)}"; this }
    def raw(k: String, v: String): Json = { parts += s"${q(k)}:$v"; this }
    def render: String = parts.mkString("{", ",", "}")
    private def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}
