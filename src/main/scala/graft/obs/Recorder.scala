package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.CheckpointBridge

/** One Spark job of a measured query: its id, its ms between the job's
  * start and end events (-1 if it never ended), its task and stage count
  * at submission, and the first `graft` frame of its call site. */
final case class JobSpan(id: Int, ms: Long, tasks: Int, stages: Int, site: String)

/** One query as [[Recorder.measure]] saw it. `rows` is what the action
  * returned: its row count, or -1 when the action counts no rows or threw
  * (the cause is then in `error`). `stranded` and `buildSeconds` are what
  * [[Recorder.measureQuery]] counted, -1 otherwise: `buildSeconds` is the
  * part of `seconds` spent building the query's frame (resolving its
  * tables, planning, and any eager checkpoints), before its action ran. */
final case class Measurement(seconds: Double, rows: Long, gcMs: Long, jobs: Int,
                             tasks: Long, maxTaskMs: Long, meanTaskMs: Double,
                             jobSpans: Seq[JobSpan], error: Option[Throwable],
                             stranded: Int = -1, buildSeconds: Double = -1) {
  def ok: Boolean = error.isEmpty
}

/** The per-query recorder of the Bench, Verify and `graft.tools.Profile`
  * mains: one `SparkListener` on the session and one [[measure]] around
  * each query.
  *
  * Job counts are the adjudication metric for wall-time deltas: the job
  * count is deterministic for a fixed binary and plan, so a wall-time delta
  * with an unchanged job count is run-to-run noise, a job-count delta is a
  * real plan or driver-bill change. GC ms is the second channel: a wall
  * spike with frozen jobs and a matching GC spike is heap noise. Task
  * balance (max vs mean task ms) shows a query collapsed onto one
  * straggler, and the per-job list attributes a query's total to its jobs.
  *
  * Listener events arrive asynchronously, so every counter is read after
  * [[CheckpointBridge.drainListeners]], outside the timed window: the drain
  * is bookkeeping, not query cost. One recorder per session at a time;
  * [[close]] removes its listener. */
final class Recorder(spark: SparkSession) extends AutoCloseable {
  private val tasks = new AtomicLong(0)
  private val taskSum = new AtomicLong(0)
  private val taskMax = new AtomicLong(0)
  // job id -> (start event time, span); the end event fills in the span's ms
  private val spans = new ConcurrentHashMap[Int, (Long, JobSpan)]()

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      spans.put(js.jobId, (js.time, JobSpan(js.jobId, -1L,
        js.stageInfos.map(_.numTasks).sum, js.stageInfos.size, Recorder.site(js))))
      ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      spans.computeIfPresent(je.jobId,
        (_: Int, s: (Long, JobSpan)) => (s._1, s._2.copy(ms = je.time - s._1)))
      ()
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val d = te.taskInfo.duration
      tasks.incrementAndGet(); taskSum.addAndGet(d)
      taskMax.accumulateAndGet(d, (a: Long, b: Long) => math.max(a, b)); ()
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Run one query's action, which returns its row count, and record it.
    * A throw is caught and kept in `error` so one failing query cannot end
    * a suite run. Counters are read after the listener drain, and then
    * [[Recorder.cleanup]] runs; both lie outside the timed window. */
  def measure(action: => Long): Measurement = record(action, () => -1)

  /** [[measure]] of `action` over the frame `query` builds, also timing
    * the build apart (`buildSeconds`) and counting the persistent RDDs the
    * query stranded: those it left after the action beyond the ones its
    * result reads, counted before the cleanup. With the ContextCleaner on
    * (`spark.cleaner.referenceTracking`), a garbage collection during the
    * query can reclaim a stranded RDD before it is counted. */
  def measureQuery(query: => DataFrame)(action: DataFrame => Long): Measurement = {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    var df: Option[DataFrame] = None
    var buildSeconds = -1.0
    val m = record({
      val t0 = System.nanoTime()
      val d = query
      buildSeconds = (System.nanoTime() - t0) / 1e9
      df = Some(d)
      action(d)
    }, () => df.fold(-1) { d =>
      (persisted -- before -- CheckpointBridge.rddsOf(d).map(_.id)).size
    })
    m.copy(buildSeconds = buildSeconds)
  }

  private def record(action: => Long, stranded: () => Int): Measurement = {
    CheckpointBridge.drainListeners(spark)
    spans.clear(); tasks.set(0); taskSum.set(0); taskMax.set(0)
    val g0 = Recorder.gcMs()
    val t0 = System.nanoTime()
    val (rows, error) = try (action, None) catch { case e: Throwable => (-1L, Some(e)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val gc = Recorder.gcMs() - g0
    CheckpointBridge.drainListeners(spark)
    val jobList = spans.values.asScala.map(_._2).toSeq.sortBy(_.id)
    val n = tasks.get()
    val m = Measurement(seconds, rows, gc, jobList.size, n, taskMax.get(),
      if (n == 0) 0.0 else taskSum.get().toDouble / n, jobList, error, stranded())
    Recorder.cleanup(spark)
    m
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Recorder {
  /** Cumulative stop-the-world GC ms across all collectors. */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** The full output of `df` into Spark's `noop` sink: every column of
    * every row is computed, where a `count()` lets Catalyst prune per-row
    * kernels away. The sink counts no rows, so this returns -1. */
  def fullOutput(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    -1L
  }

  /** The one between-query cleanup step. `clearCache` drops only
    * catalog-tracked datasets; `localCheckpoint` blocks live as plain
    * persistent RDDs and would otherwise pile up across a suite run,
    * eating storage memory from later queries. The `System.gc()` lets the
    * GC-triggered ContextCleaner reclaim dead broadcasts, accumulators and
    * shuffle files, which a large, rarely collected heap would otherwise
    * keep for the whole run. The unpersist blocks until the blocks are
    * gone: the ContextCleaner removes a collected checkpoint RDD again,
    * and a removal still in flight would race it and log an ERROR for a
    * block the other one already dropped. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** The first `graft` frame of the call site of the job's own (highest
    * id) stage, or "": `stageInfos` comes in no fixed order. */
  private def site(js: SparkListenerJobStart): String =
    js.stageInfos.maxByOption(_.stageId).flatMap(_.details.linesIterator
      .find(l => l.contains("graft") && !l.contains("graft.obs."))).getOrElse("").trim
}
