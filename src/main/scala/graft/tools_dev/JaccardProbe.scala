package graft.tools_dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only 1× cost breakdown for [[graft.dedup.Dedup.jaccardJoinStaged]]:
  * times the sorted-token build, the candidate join alone, and the full
  * candidates+verify pass on one sf dir, and dumps the candidate join's
  * physical plan so the build-side / exchange-reuse shape is inspectable
  * without the 10× corpus build ScaleProbe's breakdown mode requires. */
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
    if (sys.env.contains("SPARK_GRAFT_JACCARD_EXPLAIN")) {
      println("==== sorted-token build plan ====")
      println(sorted.queryExecution.executedPlan.toString.take(8000))
      // r15: `sorted` is now a checkpoint (its own plan is just a Scan
      // ExistingRDD), so ALSO print the plan of the build that produced
      // it — the df-agg + dictionary join over the hash(tok)-declared
      // token checkpoint. Reconstructed here ONLY to print the shape
      // (mirrors jaccardJoinStaged5's build; plan capture, not a timed
      // path).
      locally {
        val (toks, _, _, _, _, _) = graft.dedup.Dedup.jaccardJoinStaged5(
          d.select(col("doc_id"),
            graft.text.TextFunctions.shingleSet(col("text"), 8).as("items")), thr)
        val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val build = toks.join(dfreq.hint("shuffle_hash"), Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(collect_list(struct(col("df"), col("tok"))).as("raw"))
        println("==== checkpointed-sorted internal build plan (toks ckpt -> df agg -> dictionary join) ====")
        println(build.queryExecution.executedPlan.toString.take(8000))
      }
      println("==== cand plan ====")
      println(cand.queryExecution.executedPlan.toString.take(8000))
      println("==== out plan ====")
      println(out.queryExecution.executedPlan.toString.take(8000))
      println("==== scored plan (the query path's single-eval verify) ====")
      println(scored.queryExecution.executedPlan.toString.take(8000))
    }
    org.apache.spark.sql.graft.CheckpointBridge.free(sorted)
    org.apache.spark.sql.graft.CheckpointBridge.free(cand)
    spark.stop()
  }
}
