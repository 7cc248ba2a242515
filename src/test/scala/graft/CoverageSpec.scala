package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.blocks.Blocks
import graft.functions.Reducers
import graft.io.GraphFormats
import graft.text.TextFunctions

/** Coverage for library surface not exercised by the oracle gate. */
class CoverageSpec extends SparkSpec {
  import spark.implicits._

  test("graphviz writer emits a well-formed digraph") {
    val dir = Files.createTempDirectory("dot").toString
    GraphFormats.writeGraphviz(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), dir)
    val lines = spark.read.text(dir).as[String].collect().toSeq
    assert(lines.head == "digraph g {" && lines.last == "}")
    assert(lines.contains("  1 -> 2;") && lines.contains("  2 -> 3;"))
  }

  test("reducer column mapping covers the aggregator families") {
    val df = Seq(3L, 1L, 2L).toDF("x")
    def agg(name: String): Any = df.agg(Reducers.columnFor(name, col("x"))).first().get(0)
    assert(agg("min") == 1L && agg("max") == 3L && agg("sum") == 6L)
    assert(agg("xor") == (3L ^ 1L ^ 2L))
    val b = Seq(true, false).toDF("x")
    assert(b.agg(Reducers.columnFor("and", col("x"))).first().getBoolean(0) == false)
    assert(b.agg(Reducers.columnFor("or", col("x"))).first().getBoolean(0) == true)
    intercept[IllegalArgumentException] { Reducers.columnFor("nope", col("x")) }
  }

  test("striped block partitions the work and reunions losslessly") {
    val df = (1L to 100L).toDF("id").withColumn("v", col("id"))
    val doubled = Blocks.striped(4)(Blocks.forAllVertices("v", col("v") * 2))(df)
    assert(doubled.count() == 100)
    assert(doubled.agg(sum("v")).first().getLong(0) == 2 * (1L to 100L).sum)
  }

  test("langId returns the first profile on ties and tracks evidence") {
    val d = Seq("the cat of the house", "der hund und die katze", "le chat et la table")
      .toDF("text")
    val got = d.select(TextFunctions.langId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "fr"))
  }

  test("bpeish tokenizer splits punctuation and digit runs") {
    val one = Seq("ab12, cd!").toDF("text")
    // tokens: ab | 1 | 2 | , | cd | !  => 6
    assert(one.select(TextFunctions.bpeishTokenCount(col("text"))).first().getLong(0) == 6L)
    assert(one.select(TextFunctions.punctCount(col("text"))).first().getLong(0) == 2L)
  }

  test("range partitioning yields contiguous disjoint id ranges (§2.7)") {
    val e = (1L to 1000L).toDF("src").withColumn("dst", col("src") + 1)
    val parts = e.repartitionByRange(4, col("src"))
      .select(col("src"), spark_partition_id().as("p"))
      .groupBy(col("p")).agg(min(col("src")).as("lo"), max(col("src")).as("hi"))
      .orderBy(col("lo")).as[(Int, Long, Long)].collect().toSeq
    assert(parts.length == 4)
    // ranges are disjoint and ordered: each partition's lo > previous hi
    parts.sliding(2).foreach { case Seq(a, b) => assert(b._2 > a._3); case _ => }
    assert(parts.map(p => p._3 - p._2 + 1).sum >= 1000L)
  }

  test("entry point returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query registry: every query has an oracle, 275 names, no duplicate") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 275)
    val q = Query("q_dup", _ => spark.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](Query.index(Seq(q, q.copy(oracle = "SELECT 2"))))
    assert(e.getMessage.contains("q_dup"), e.getMessage)
  }

  test("salted join replicates via explode, never BroadcastNestedLoop") {
    import spark.implicits._
    val skewed = (0 until 100).map(i => (1L, i.toLong)).toDF("k", "payload")
    val dim = Seq((1L, "x")).toDF("k", "name")
    val plan = graft.graph.Skew.saltedJoin(skewed, dim, "k", salt = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(600))
    assert(plan.contains("Generate explode") || plan.contains("explode"), plan.take(600))
  }

  test("quantiles rank pass scans its input once (single Window)") {
    import spark.implicits._
    val df = (0 until 200).map(i => ("g", i.toLong)).toDF("g", "v")
    val plan = graft.operators.Quantiles
      .exactScaled(df, "v", "g", Seq((1, 2)), 100L)
      .queryExecution.executedPlan.toString
    // row_number and the lead() interpolation neighbor must share ONE
    // Window operator — a second Window would mean a second sort pass
    assert("(?s)Window".r.findAllIn(plan).size == 1, plan.take(1200))
  }

  test("SQL extensions expose the native expressions as SQL functions") {
    graft.sql.GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT simhash60(array('abc', 'def', 'ghi')) AS h")
      .first().getLong(0)
    val viaColumn = Seq(Seq("abc", "def", "ghi")).toDF("sh")
      .select(TextFunctions.simhash60(col("sh"))).first().getLong(0)
    assert(viaSql == viaColumn)
    val sig = spark.sql("SELECT minhash_signature(array('abc', 'def'), 16) AS s")
      .first().getSeq[String](0)
    val sigCol = Seq(Seq("abc", "def")).toDF("sh")
      .select(TextFunctions.minhashSignature(col("sh"), 16)).first().getSeq[String](0)
    assert(sig.length == 16 && sig == sigCol)
    // non-literal numHashes is rejected at resolution, not at runtime
    intercept[Exception] {
      spark.sql("SELECT minhash_signature(array('a'), length('ab')) AS s").collect()
    }
    val d = spark.sql(
      "SELECT vec_dot(array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT)), array(2.0D, 3.0D)) AS d")
      .first().getDouble(0)
    assert(d == 1.5 * 2.0 + -2.0 * 3.0)
  }
}
