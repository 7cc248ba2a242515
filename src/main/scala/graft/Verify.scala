package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY narrows the run for fast local iteration
    val selected = Bench.selected
    // RAM-backed scratch (LocalScratch): the driver's correctness drive
    // is sf0.01, whose spills are tiny. A corpus whose spill exceeds RAM
    // (PLANS.md, "Round-12 continuation #4": the 50× CDC pair dump) must
    // be run with SPARK_GRAFT_LOCAL_DIR=disk.
    val spark = LocalScratch.fast(LocalLiveness.local(Bench.cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val recorder = new graft.obs.Recorder(spark)
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // the recorder's cleanup after each query drops its leftover
      // checkpoints, so one query's cache can't starve the next
      recorder.measure {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        -1L
      }.error.foreach { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        e.printStackTrace()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
