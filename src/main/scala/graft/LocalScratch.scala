package graft

import org.apache.spark.sql.SparkSession

/** RAM-backed shuffle/spill scratch for SMALL-SF single-box runs.
  *
  * The bench/verify workloads at sf ≤ 0.1 spill a few GB per query;
  * on this box the disk write path is the one shared resource that
  * couples otherwise-independent queries (round-12 adjudication: the
  * driver bench read ×1.69 with byte-identical job counts purely from
  * disk contention, and a ktruss standalone re-run measured 58.3 s on
  * another kernel's spill debris vs 26.2 s clean). /dev/shm is tmpfs —
  * RAM-speed (measured 1.0 GB/s vs 178–470 MB/s to disk), zeroed per
  * boot, and per-process dirs are deleted by Spark on clean shutdown.
  *
  * Scope: applied by the Bench and Verify mains ONLY. graft.tools.Profile
  * keeps disk scratch: its `--copies` corpora spill 70+ GB at 100×
  * (PLANS.md, "Round-12: collision-free second decade"), more than RAM,
  * which is exactly the regime where tmpfs would OOM the box.
  * A real cluster submission is untouched (this is a local-mode main
  * concern; at fleet scale the equivalent lever is NVMe local dirs or
  * disaggregated shuffle, a deployment choice, not engine code).
  *
  * `SPARK_GRAFT_LOCAL_DIR=disk` opts back into the JVM default;
  * any other value is used verbatim as spark.local.dir. Guard rails:
  * falls back to the default scratch when /dev/shm is missing or has
  * < 64 GiB usable. spark.cleaner.periodicGC.interval is tightened
  * 30min → 3min so ContextCleaner actually deletes dead shuffle files
  * within a long suite run — in tmpfs, lingering shuffle files hold
  * RAM, not just disk inodes (the 48 g heap GCs too rarely on its own
  * for the cleaner to fire).
  *
  * Observability (round-13 advice): the decision is never silent. The
  * resolved choice is logged at session-build time and published via
  * [[resolved]] so the Bench main can stamp it into the bench JSON —
  * a mid-project flip to the fallback (e.g. stale tmpfs debris from an
  * unclean shutdown shrinking usable space) is a ×1.69-class wall
  * swing and must be visible in cross-round artifacts, not inferred.
  * Before choosing tmpfs, stale graft-scratch subdirectories are swept:
  * a kill -9/OOM leaves Spark's per-app dirs holding tmpfs RAM until
  * reboot, silently eating toward the 64 GiB floor. */
object LocalScratch {
  private val MinUsable = 64L * 1024 * 1024 * 1024
  private val TmpfsDir = "/dev/shm/graft-scratch"
  /** Debris older than this is orphaned: the repo rule is one graft JVM
    * at a time and a Bench/Verify run finishes well inside 2 h, so no
    * LIVE run's scratch can be this old. (Top-level per-app dir mtimes
    * are set at creation; the margin covers the longest legitimate
    * run, not write activity.) */
  private val StaleMs = 2L * 3600 * 1000

  /** The scratch decision applied by the last [[fast]] call, for the
    * bench artifact: "tmpfs:<dir>", "env:<dir>", "disk:env" or
    * "disk:fallback(<reason>)". */
  @volatile var resolved: String = "unresolved"

  def fast(b: SparkSession.Builder): SparkSession.Builder = {
    val (out, choice) = sys.env.get("SPARK_GRAFT_LOCAL_DIR") match {
      case Some("disk") => (b, "disk:env")
      case Some(dir)    => (tuned(b).config("spark.local.dir", dir), s"env:$dir")
      case None =>
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) sweepStale(new java.io.File(TmpfsDir))
        if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= MinUsable)
          (tuned(b).config("spark.local.dir", TmpfsDir), s"tmpfs:$TmpfsDir")
        else {
          val why =
            if (!shm.isDirectory) "no /dev/shm"
            else if (!shm.canWrite) "/dev/shm not writable"
            else s"usable=${shm.getUsableSpace / (1 << 20)}MiB < 64GiB"
          (b, s"disk:fallback($why)")
        }
    }
    resolved = choice
    System.err.println(s"[scratch] spark.local.dir resolution: $choice")
    out
  }

  /** Delete graft-scratch subdirectories (Spark per-app spark-&#42; and
    * blockmgr-&#42; trees) whose top-level mtime is older than [[StaleMs]]
    * — debris from unclean shutdowns that would otherwise hold tmpfs
    * RAM until reboot. Logged so a sweep is visible in the session
    * record; a clean box logs nothing. */
  private def sweepStale(root: java.io.File): Unit = {
    val cutoff = System.currentTimeMillis() - StaleMs
    val stale = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.lastModified() < cutoff)
    if (stale.nonEmpty) {
      val freed = stale.map { d =>
        val sz = treeSize(d); delete(d); sz
      }.sum
      System.err.println(s"[scratch] swept ${stale.length} stale scratch " +
        s"entr${if (stale.length == 1) "y" else "ies"} (${freed / (1 << 20)} MiB tmpfs freed)")
    }
  }

  private def treeSize(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeSize).sum
    else f.length()

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
    ()
  }

  private def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.cleaner.periodicGC.interval", "3min")
}
