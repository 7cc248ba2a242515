package graft

import org.apache.spark.sql.functions._

/** Hand-computed micro-fixtures for the trickiest of the adapted TPC-H
  * shapes — independent of the DuckDB replay gate: the expected values
  * below are derived on paper, not by running either engine.
  */
class TpchSpec extends SparkSpec {
  import spark.implicits._

  /** Write just the tables a query touches into a temp dir shaped like a
    * testdata sf dir ([[Tables]] accessors are lazy, so absent tables are
    * never read). */
  private def dirWith(tables: (String, org.apache.spark.sql.DataFrame)*): String = {
    val d = java.nio.file.Files.createTempDirectory("tpch_fix").toString
    tables.foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$d/$n.parquet") }
    d
  }

  private def ts(c: org.apache.spark.sql.Column) = to_timestamp(c)

  test("q17: integer 20%-of-avg threshold keeps exactly the sub-average rows") {
    // part 1 (Brand#13): quantities 1,10,10,10 → cnt=4, Σq=31;
    //   5·q·4 < 31 ⇔ q < 1.55 → only the q=1 row (price 700) survives.
    // part 2 (Brand#13): quantities 2,2 → 5·2·2=20 ≥ 4 → nothing.
    // part 3 (other brand): excluded by the brand filter entirely.
    // avg_yearly_e2 = floor(700/7·100) = 10000, cnt = 1.
    val part = Seq((1L, "Brand#13"), (2L, "Brand#13"), (3L, "Brand#99"))
      .toDF("p_partkey", "p_brand")
    val li = Seq(
      (1L, 1.0, 700.0), (1L, 10.0, 1.0), (1L, 10.0, 1.0), (1L, 10.0, 1.0),
      (2L, 2.0, 50.0), (2L, 2.0, 50.0),
      (3L, 1.0, 999.0)
    ).toDF("l_partkey", "l_quantity", "l_extendedprice")
    val dir = dirWith("part" -> part, "lineitem" -> li)
    val r = Queries.all("q17_smallqty")(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(r == Seq((10000L, 1L)))
  }

  test("q21: only the sole-late supplier on a multi-supplier F order waits") {
    // O1 (F): s1 late, s2 on time  → s1 counts.
    // O2 (F): s1 late, s2 late     → neither (another supplier was late).
    // O3 (F): s1 late, no other    → not counted (single-supplier order).
    // O4 (O): s3 late, s2 on time  → excluded (status not F).
    val orders = Seq(
      (1L, "2000-01-01", "F"), (2L, "2000-01-01", "F"),
      (3L, "2000-01-01", "F"), (4L, "2000-01-01", "O")
    ).toDF("o_orderkey", "d", "o_orderstatus")
      .select(col("o_orderkey"), ts(col("d")).as("o_orderdate"), col("o_orderstatus"))
    val li = Seq(
      (1L, 1L, "2000-05-01"), (1L, 2L, "2000-01-15"),
      (2L, 1L, "2000-05-01"), (2L, 2L, "2000-05-01"),
      (3L, 1L, "2000-05-01"),
      (4L, 3L, "2000-05-01"), (4L, 2L, "2000-01-15")
    ).toDF("l_orderkey", "l_suppkey", "d")
      .select(col("l_orderkey"), col("l_suppkey"), ts(col("d")).as("l_shipdate"))
    val supplier = Seq((1L, "S1"), (2L, "S2"), (3L, "S3")).toDF("s_suppkey", "s_name")
    val dir = dirWith("orders" -> orders, "lineitem" -> li, "supplier" -> supplier)
    val r = Queries.all("q21_waiting")(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(r == Seq(("S1", 1L)))
  }

  test("q22: cents-exact above-average test plus idle anti-join") {
    // positive balances (cents): c1 10000, c2 5000, c3 20000, c5 15000 →
    // n=4, Σ=50000; qualify ⇔ cents·4 > 50000 → c3, c5. c5 ordered in
    // 2000 (recent → dropped); c3's only order is 1999 (idle → kept).
    // c4's negative balance can never qualify.
    val customer = Seq(
      (1L, 100.0, 1), (2L, 50.0, 1), (3L, 200.0, 2), (4L, -10.0, 2), (5L, 150.0, 1)
    ).toDF("c_custkey", "c_acctbal", "c_nationkey")
    val orders = Seq(
      (10L, 3L, "1999-01-01"), (11L, 5L, "2000-02-01"), (12L, 1L, "2000-03-01")
    ).toDF("o_orderkey", "o_custkey", "d")
      .select(col("o_orderkey"), col("o_custkey"), ts(col("d")).as("o_orderdate"))
    val dir = dirWith("customer" -> customer, "orders" -> orders)
    val r = Queries.all("q22_idle")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((2L, 1L, 20000L)))
  }

  test("q15: revenue argmax keeps ALL tied top suppliers") {
    // s1 and s2 tie at 300.00 in the quarter; s3 trails; s2's out-of-
    // window line must not count.
    val li = Seq(
      (1L, 300.0, 0.0, "1996-02-01"),
      (2L, 150.0, 0.0, "1996-02-01"), (2L, 150.0, 0.0, "1996-03-01"),
      (2L, 999.0, 0.0, "1996-05-01"),
      (3L, 100.0, 0.0, "1996-02-01")
    ).toDF("l_suppkey", "l_extendedprice", "l_discount", "d")
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"),
        ts(col("d")).as("l_shipdate"))
    val supplier = Seq((1L, "S1"), (2L, "S2"), (3L, "S3")).toDF("s_suppkey", "s_name")
    val dir = dirWith("lineitem" -> li, "supplier" -> supplier)
    val r = Queries.all("q15_topsupp")(spark, dir)
      .as[(Long, String, Long)].collect().toSeq
    assert(r == Seq((1L, "S1", 30000L), (2L, "S2", 30000L)))
  }
}
