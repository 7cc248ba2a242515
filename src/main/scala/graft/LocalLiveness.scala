package graft

import org.apache.spark.sql.SparkSession

/** Liveness slack for SINGLE-JVM local-mode sessions.
  *
  * In local mode driver and executor share one process, so the executor
  * heartbeat carries no liveness signal the process itself doesn't —
  * but a stop-the-world pause longer than the 120 s default (observed
  * twice at probe scale: a post-query System.gc() on the 48 g heap and
  * a spill-heavy CDC join each froze the JVM 2.5–3 min) still gets the
  * executor "removed" by HeartbeatReceiver and the context shut down
  * mid-run. Every local main (Verify, Bench, Profile, the CLI's local
  * default) widens the window; cluster submissions keep Spark defaults
  * (there the heartbeat IS the liveness signal — see GraftRunner's
  * SPARK_MASTER branch, which does not apply this). */
object LocalLiveness {
  /** A fixed 600 s network timeout (60 s heartbeats). It also delays
    * RPC ask timeouts that inherit spark.network.timeout, so a genuinely
    * wedged local run takes up to 10 min to be declared dead (ADVICE
    * r12) — acceptable for the unattended Bench, Verify and Profile runs
    * this guards. */
  def widen(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")

  /** The one local session builder of the Bench, Verify and Profile
    * mains: `local[cpus]` with as many shuffle partitions, no UI, UTC
    * session time and the widened liveness window. */
  def local(cpus: Int): SparkSession.Builder =
    widen(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
}
