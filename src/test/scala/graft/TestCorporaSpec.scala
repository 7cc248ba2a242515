package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col

class TestCorporaSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def withTempDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-copies").toFile
    try body(dir.getPath) finally FileUtils.deleteDirectory(dir)
  }

  test("2 disjoint copies double every copied table and q_graph_wcc's component count") {
    withTempDir { out =>
      TestCorpora.copies(spark, sf, out, 2)
      def rows(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
      Seq("lineitem", "orders", "part", "supplier", "customer", "events", "documents")
        .foreach(t => assert(rows(out, t) == 2 * rows(sf, t), t))
      Seq("region", "nation").foreach(t => assert(rows(out, t) == rows(sf, t), t))
      // the disjoint-copies claim the N×/1× ratios rest on
      def components(dir: String) =
        SparkEntry.queries("q_graph_wcc")(spark, dir).select(col("component")).distinct().count()
      assert(components(out) == 2 * components(sf))
    }
  }

  test("copies that would alias customer ids into the supplier range are refused") {
    withTempDir { out =>
      intercept[IllegalArgumentException](TestCorpora.copies(spark, sf, out, 100000))
      assert(new File(out).list().isEmpty)
    }
  }
}
