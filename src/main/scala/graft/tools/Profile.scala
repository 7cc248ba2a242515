package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{Bench, LocalLiveness, Queries, TestCorpora}
import graft.obs.{Measurement, Recorder}

/** The one profiling entry point: runs named declared queries on one local
  * session and prints what [[graft.obs.Recorder]] measured of each, per
  * pass: the full-output time (the bench's timed action) and the part of
  * it spent building the query's frame, the `count()` time and row count,
  * jobs, tasks, max/mean task ms, GC ms, the number of persistent RDDs the
  * full-output run stranded (left behind beyond those its result reads),
  * and one line per job (id, ms, tasks/stages, first graft call site).
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=4 SPARK_GRAFT_PASSES=2 \
  *   tools/jrun.sh [-Dspark.cleaner.referenceTracking=false] graft.tools.Profile \
  *   [--explain] [--copies N] query ...
  * }}}
  *
  * The JVM flag turns the ContextCleaner off, so that no garbage
  * collection reclaims a stranded RDD before it is counted.
  *
  *  - `--explain` prints each query's formatted physical plan instead of
  *    running it (iterative queries still run the checkpoints their plan
  *    is built from).
  *  - `--copies N` also runs each query on N disjoint copies of the sf dir
  *    ([[graft.TestCorpora.copies]], built once under java.io.tmpdir) and
  *    prints the N×/1× ratios: linear work reads as a ratio of about N,
  *    an engine cliff as a ratio well above N.
  *
  * The session is `local[SPARK_GRAFT_CPUS]` with disk scratch: a copied
  * corpus can spill more than RAM. Environment defaults are the bench's. */
object Profile {
  /** One profiled run of `query` on the sf dir (`copies` = 1) or on its
    * N-copy corpus: the full-output measurement and the `count()` one,
    * which carries the row count. */
  final case class Row(query: String, pass: Int, copies: Int, full: Measurement, count: Measurement)

  private final case class Opts(explain: Boolean = false, copies: Option[Int] = None,
                                queries: Seq[String] = Nil)

  private val Usage = "usage: graft.tools.Profile [--explain] [--copies N] query ..."

  def main(args: Array[String]): Unit = {
    val spark = LocalLiveness.local(Bench.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try { run(spark, args.toSeq, Bench.sfDir, Bench.passes); () } finally spark.stop()
  }

  /** Everything `main` does, on a caller's session; returns the rows it
    * printed (none with `--explain`). */
  def run(spark: SparkSession, args: Seq[String], sfDir: String, passes: Int,
          out: String => Unit = println): Seq[Row] = {
    val o = parse(args.toList, Opts())
    require(o.queries.nonEmpty, Usage)
    val selected = Queries.select(o.queries)
    require(o.copies.forall(_ >= 2), s"--copies needs N >= 2; $Usage")
    if (o.explain) {
      selected.foreach { case (q, fn) =>
        out(s"======== $q")
        out(fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")))
        Recorder.cleanup(spark)
      }
      return Nil
    }
    val dirs = Seq(1 -> sfDir) ++ o.copies.map { n =>
      val src = new java.io.File(sfDir).getAbsoluteFile
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_copies_${src.getName}_${Integer.toHexString(src.getPath.hashCode)}_x$n").getPath
      TestCorpora.copies(spark, sfDir, dir, n)
      n -> dir
    }
    val recorder = new Recorder(spark)
    try selected.flatMap { case (q, fn) => (1 to passes).flatMap { pass =>
      val rows = dirs.map { case (n, dir) =>
        val r = Row(q, pass, n, recorder.measureQuery(fn(spark, dir))(Recorder.fullOutput),
          recorder.measure(fn(spark, dir).count()))
        report(r, out)
        r
      }
      if (rows.size == 2 && rows.forall(r => r.full.ok && r.count.ok)) {
        val Seq(a, b) = rows
        out(f"PROFILE $q p$pass x${b.copies}/x1 full=${b.full.seconds / a.full.seconds}%.2f " +
          f"count=${b.count.seconds / a.count.seconds}%.2f jobs=${b.full.jobs}/${a.full.jobs}")
      }
      rows
    }} finally recorder.close()
  }

  private def report(r: Row, out: String => Unit): Unit = {
    val m = r.full
    val head = s"PROFILE ${r.query} p${r.pass} x${r.copies}"
    (m.error ++ r.count.error).headOption match {
      case Some(e) => out(s"$head FAILED: ${e.getMessage}")
      case None =>
        out(f"$head full=${m.seconds}%.3fs build=${m.buildSeconds}%.3fs count=${r.count.seconds}%.3fs " +
          f"rows=${r.count.rows} jobs=${m.jobs} tasks=${m.tasks} maxTask=${m.maxTaskMs}ms " +
          f"meanTask=${m.meanTaskMs}%.1fms gc=${m.gcMs}ms stranded=${m.stranded}")
        m.jobSpans.foreach(j =>
          out(f"  JOB ${j.id}%5d ${j.ms}%7dms ${j.tasks}t/${j.stages}s ${j.site}"))
    }
  }

  private def parse(args: List[String], o: Opts): Opts = args match {
    case Nil => o
    case "--explain" :: t => parse(t, o.copy(explain = true))
    case "--copies" :: n :: t => parse(t, o.copy(copies = Some(n.toInt)))
    case f :: _ if f.startsWith("--") => throw new IllegalArgumentException(s"unknown flag $f; $Usage")
    case q :: t => parse(t, o.copy(queries = o.queries :+ q))
  }
}
