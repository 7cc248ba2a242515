package graft

import java.lang.ref.WeakReference
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.obs.Recorder

/** The contract of [[Tables.parquet]]: a table is resolved once per
  * session, and what it serves is what a plain `spark.read.parquet`
  * serves. Each case writes its own table, so no other suite's reads
  * leave an entry behind for it. */
class TablesSpec extends SparkSpec {

  private def newTable(df: DataFrame): String = {
    val path = Files.createTempDirectory("graft-tables").resolve("t.parquet").toString
    df.write.parquet(path)
    path
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** The frame `read` returns and the Spark jobs the read fired. */
  private def jobsOf(read: => DataFrame): (DataFrame, Int) = {
    val rec = new Recorder(spark)
    try {
      var df: DataFrame = null
      val m = rec.measure { df = read; -1L }
      assert(m.ok, m)
      (df, m.jobs)
    } finally rec.close()
  }

  test("a second read of an unchanged table fires no job and serves the raw read") {
    val path = newTable(spark.range(50).select(col("id"), (col("id") % 7).as("k")))
    val (first, firstJobs) = jobsOf(Tables.parquet(spark, path))
    val (second, secondJobs) = jobsOf(Tables.parquet(spark, path))
    assert(firstJobs == 1, "the first read infers the schema in one job")
    assert(secondJobs == 0)
    val raw = spark.read.parquet(path)
    assert(first.schema == raw.schema && second.schema == raw.schema)
    assert(rows(second) == rows(raw) && rows(first) == rows(raw))
  }

  test("a table rewritten at the same path is seen by the next read") {
    val path = newTable(spark.range(10).select(col("id"), (col("id") * 2).as("x")))
    assert(Tables.parquet(spark, path).count() == 10L)
    spark.range(20, 25).select(col("id"), (col("id") * 3).as("x"), lit("new").as("y"))
      .write.mode("overwrite").parquet(path)
    val (df, jobs) = jobsOf(Tables.parquet(spark, path))
    assert(jobs == 1, "a changed listing is a miss")
    assert(df.columns.toSeq == Seq("id", "x", "y"))
    assert(rows(df) == (20L until 25L).map(i => Row(i, i * 3, "new")))
  }

  test("two reads of one table self-join without an ambiguity error") {
    val path = newTable(spark.range(30).select(col("id"), (col("id") % 3).as("k")))
    val reads = Seq.fill(3)(Tables.parquet(spark, path))
    // the first read misses and the next two hit: check a miss and a hit,
    // and two hits, joined with themselves
    Seq((reads(0), reads(1)), (reads(1), reads(2))).foreach { case (a, b) =>
      val j = a.join(b, a("id") === b("id") + 1).select(a("id"), b("k"))
      assert(j.count() == 29L)
      assert(j.filter(col("id") === 10).select("k").head().getLong(0) == 0L)
    }
  }

  test("changing spark.sql.parquet.binaryAsString is a miss") {
    val path = newTable(spark.range(5).select(col("id"), col("id").cast("string").cast("binary").as("b")))
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      Tables.parquet(spark, path)
      assert(jobsOf(Tables.parquet(spark, path))._2 == 0)
      spark.conf.set(key, "true")
      val (df, jobs) = jobsOf(Tables.parquet(spark, path))
      assert(jobs == 1, "a changed parquet setting is a miss")
      // (Spark's own writer stores its schema in the footer, which wins
      // over the setting, so the served type is the raw read's either way)
      assert(df.schema == spark.read.parquet(path).schema && df.schema("b").dataType == BinaryType)
      assert(jobsOf(Tables.parquet(spark, path))._2 == 0, "the new resolution is reused")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("spark.newSession() resolves its own relation") {
    val path = newTable(spark.range(8).toDF("id"))
    Tables.parquet(spark, path)
    assert(jobsOf(Tables.parquet(spark, path))._2 == 0)
    val other = spark.newSession()
    assert(jobsOf(Tables.parquet(other, path))._2 == 1)
    val (df, jobs) = jobsOf(Tables.parquet(other, path))
    assert(jobs == 0 && df.sparkSession.eq(other) && df.count() == 8L)
  }

  test("a dropped session is not kept reachable by the cache") {
    val path = newTable(spark.range(4).toDF("id"))
    // the session and its frames live only inside this call. No action
    // runs on it: Spark itself keeps a session that ran one reachable.
    def readInDroppedSession(): WeakReference[SparkSession] = {
      val s = spark.newSession()
      assert(jobsOf(Tables.parquet(s, path))._2 == 1)
      assert(jobsOf(Tables.parquet(s, path))._2 == 0, "the resolution is cached")
      new WeakReference(s)
    }
    val ref = readInDroppedSession()
    Iterator.range(0, 50).takeWhile(_ => ref.get != null).foreach { _ =>
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get == null, "the session outlived every reference but the cache")
  }
}
