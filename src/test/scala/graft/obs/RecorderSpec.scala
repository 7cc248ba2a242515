package graft.obs

import graft.SparkSpec

class RecorderSpec extends SparkSpec {

  test("one count over two partitions is exactly one job of two tasks") {
    val rec = new Recorder(spark)
    try {
      val m = rec.measure(spark.sparkContext.parallelize(1 to 10, 2).count())
      assert(m.ok && m.rows == 10L)
      assert(m.jobs == 1 && m.tasks == 2L, m)
      assert(m.jobSpans.map(j => (j.tasks, j.stages)) == Seq((2, 1)), m.jobSpans)
      assert(m.jobSpans.head.ms >= 0 && m.maxTaskMs >= m.meanTaskMs.toLong, m)
      // counters restart per measurement
      assert(rec.measure(spark.sparkContext.parallelize(1 to 10, 3).count()).tasks == 3L)
    } finally rec.close()
  }

  test("cleanup after a query leaves no persistent RDD, even a stranded localCheckpoint") {
    val rec = new Recorder(spark)
    try {
      var during = 0
      val m = rec.measure {
        val n = spark.range(100).localCheckpoint().count()
        during = spark.sparkContext.getPersistentRDDs.size
        n
      }
      assert(m.rows == 100L && during >= 1)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    } finally rec.close()
  }

  test("measureQuery counts the checkpoints a query strands, not those its result reads") {
    val rec = new Recorder(spark)
    try {
      // held, so that the ContextCleaner cannot reclaim it before the count
      var stranded: org.apache.spark.sql.DataFrame = null
      val m = rec.measureQuery {
        stranded = spark.range(10).toDF().localCheckpoint()
        spark.range(5).toDF().localCheckpoint()
      }(_.count())
      assert(m.ok && m.rows == 5L && m.stranded == 1, m)
      java.lang.ref.Reference.reachabilityFence(stranded)
      assert(rec.measure(spark.range(3).count()).stranded == -1)
    } finally rec.close()
  }

  test("measureQuery times the frame build apart from the action") {
    val rec = new Recorder(spark)
    try {
      val m = rec.measureQuery { Thread.sleep(300); spark.range(10).toDF() } { df =>
        Thread.sleep(300); df.count()
      }
      assert(m.ok && m.rows == 10L, m)
      assert(m.buildSeconds >= 0.3 && m.seconds - m.buildSeconds >= 0.3, m)
      assert(rec.measure(spark.range(3).count()).buildSeconds == -1)
    } finally rec.close()
  }

  test("a throwing action is recorded as a failure, not a fast success") {
    val rec = new Recorder(spark)
    try {
      val m = rec.measure(throw new IllegalStateException("boom"))
      assert(!m.ok && m.rows == -1L && m.error.map(_.getMessage).contains("boom"))
    } finally rec.close()
  }
}
