package graft.graph

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class PregelSpec extends SparkSpec {
  import spark.implicits._

  private def ssspRun(opts: PregelOptions): DataFrame = {
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 3L, 1L), (2L, 4L, 10L), (3L, 4L, 2L))
      .toDF("src", "dst", "w")
    Algos.sssp(edges, source = 1L, opts)
  }

  test("superstep output hook observes every superstep") {
    var steps = Vector.empty[(Int, Long)]
    val opts = PregelOptions(maxSupersteps = 64,
      onSuperstep = (df, i) => steps :+= (i, df.filter(col("active")).count()))
    ssspRun(opts).count()
    assert(steps.nonEmpty)
    assert(steps.map(_._1) == steps.indices.toVector) // in order, every step
    assert(steps.last._2 == 0L)                       // final step converged
  }

  test("reliable checkpoint dir produces the same result") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val opts = PregelOptions(maxSupersteps = 64, checkpointEvery = 1,
      checkpointDir = Some(dir))
    val got = ssspRun(opts).orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 4L)))
    // reliable checkpoint actually wrote state
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("a snapshot round reads its snapshot back without a schema job") {
    val dir = Files.createTempDirectory("graft-snapjobs").toString
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    }
    def jobsSoFar(): Int = {
      org.apache.spark.sql.graft.CheckpointBridge.drainListeners(spark)
      started.get()
    }
    var before, round0 = -1
    spark.sparkContext.addSparkListener(listener)
    try ssspRun(PregelOptions(maxSupersteps = 64, checkpointEvery = 1, checkpointDir = Some(dir),
        onBeforeSuperstep = (_, i) => if (i == 0) before = jobsSoFar(),
        onSuperstep = (_, i) => if (i == 0) round0 = jobsSoFar() - before)).count()
    finally spark.sparkContext.removeSparkListener(listener)
    // superstep 0 with a snapshot: the parquet write (its plan's
    // shuffles, then the write) and the active count over the read-back
    // scan; the read-back itself fires none (a read that inferred the
    // schema from the footers made it 7)
    assert(round0 == 6, s"superstep 0 fired $round0 jobs")
  }

  test("checkpoint restart resumes from the latest snapshot") {
    val dir = Files.createTempDirectory("graft-restart").toString
    val golden = ssspRun(PregelOptions(maxSupersteps = 64))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    // crash the job mid-run (superstep 1), after snapshots 0 and 1 landed
    val boom = intercept[RuntimeException] {
      ssspRun(PregelOptions(maxSupersteps = 64, checkpointEvery = 1,
        checkpointDir = Some(dir),
        onSuperstep = (_, i) => if (i == 1) sys.error("simulated worker death")))
    }
    assert(boom.getMessage.contains("simulated worker death"))
    assert(Pregel.latestCheckpoint(spark, dir).map(_._1).contains(1))
    // resume: picks up at superstep 2 and converges to the golden result
    val got = ssspRun(PregelOptions(maxSupersteps = 64, checkpointEvery = 1,
      checkpointDir = Some(dir), resume = true))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == golden)
  }

  test("pre-superstep hook fires before each superstep's post hook") {
    var events = Vector.empty[String]
    val opts = PregelOptions(maxSupersteps = 64,
      onBeforeSuperstep = (_, i) => events :+= s"pre$i",
      onSuperstep = (_, i) => events :+= s"post$i")
    ssspRun(opts).count()
    val n = events.length / 2
    assert(events == (0 until n).flatMap(i => Seq(s"pre$i", s"post$i")).toVector)
  }

  test("aggregator writer receives per-superstep scalars in text form") {
    var seen = Vector.empty[(Int, Map[String, Any])]
    val opts = PregelOptions(maxSupersteps = 64,
      aggregators = Map(
        "active_cnt" -> sum(col("active").cast("long")),
        "max_dist" -> max(col("dist"))),
      aggregatorWriter = Some((step, vals) => seen :+= (step, vals)))
    ssspRun(opts).count()
    assert(seen.map(_._1) == seen.indices.toVector) // every superstep, in order
    assert(seen.last._2("active_cnt") == 0L)        // converged
    assert(seen.last._2("max_dist") == 4L)          // final SSSP frontier dist
    // the text default writes superstep\tname\tvalue lines
    val f = Files.createTempFile("graft-agg", ".tsv").toString
    ssspRun(PregelOptions(maxSupersteps = 64,
      aggregators = Map("active_cnt" -> sum(col("active").cast("long"))),
      aggregatorWriter = Some(Pregel.textAggregatorWriter(f)))).count()
    val lines = scala.io.Source.fromFile(f).getLines().toSeq
    assert(lines.nonEmpty && lines.head.startsWith("0\tactive_cnt\t"))
    assert(lines.map(_.split("\t")(0).toInt) == seen.indices)
  }

  test("maxSupersteps caps the loop") {
    val got = ssspRun(PregelOptions(maxSupersteps = 1))
    // only the source's direct neighbors reached after one superstep
    assert(got.count() == 3) // 1, 2, 3 (source + two direct)
  }
}
