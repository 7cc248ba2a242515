package graft.tools_dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only 1× cost breakdown for [[graft.dedup.Dedup.jaccardJoinStaged]]:
  * times the sorted-token build, the candidate join alone, and the full
  * candidates+verify pass on one sf dir, without the 10× corpus build
  * ScaleProbe's breakdown mode requires. */
object JaccardProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalLiveness.widen(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val thr = sys.env.getOrElse("SPARK_GRAFT_JACCARD_T", "80").toInt
    val half = sys.env.contains("SPARK_GRAFT_JACCARD_HALF")
    val d0 = graft.Tables(spark, src).documents
    val d = if (half) d0.filter(col("doc_id") % 2 === 0) else d0
    val (sorted, cand, scored, out) = graft.dedup.Dedup.jaccardJoinStaged(
      d.select(col("doc_id"),
        graft.text.TextFunctions.shingleSet(col("text"), 8).as("items")), thr)
    def tt[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val (tTok, nDocs) = tt(sorted.count())
    val (tCand, nCand) = tt(cand.count())
    val (tFull, nOut) = tt(out.count())
    // pair-weighted verify cost: avg(na+nb) over candidate pairs
    val nn = sorted.select(col("doc_id"), col("n"))
    val (tW, w) = tt(cand
      .join(nn.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(nn.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .agg(avg(col("na") + col("nb"))).first().getDouble(0))
    println(f"JACCARD-W avg(na+nb) over candidates = $w%.1f (${tW}%4.1fs)")
    println(f"JACCARD 1x docs=$nDocs%d tok=$tTok%6.2fs cand=$nCand%d " +
      f"candJoin=$tCand%6.2fs full=$tFull%6.2fs verify~=${tFull - tCand}%6.2fs out=$nOut%d")
    org.apache.spark.sql.graft.CheckpointBridge.free(sorted)
    org.apache.spark.sql.graft.CheckpointBridge.free(cand)
    spark.stop()
  }
}
