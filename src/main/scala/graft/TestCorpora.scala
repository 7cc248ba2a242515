package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived corpora for scaling and skew measurements, built from the
  * driver's test tables next to the [[TestGraphs]] they feed. Results
  * measured on them are in PLANS.md ("Round 7: next-decade scaling probe",
  * "Round-12: collision-free second decade", "Round-14: the skew decade").
  */
object TestCorpora {

  /** Per-copy affine substitution cipher over a-z: copy k maps letter
    * index i to (a·i + b) mod 26 with a = the (k mod 12)-th unit of Z₂₆ and
    * b = k / 12, so 312 distinct bijections. Two distinct affine maps agree
    * on at most gcd(a₁−a₂, 26) ≤ 2 letters, so any 8-gram with at least 3
    * distinct letters has disjoint images across copies and fingerprint df
    * distributions stay per-copy isomorphic instead of stacking. k = 0 is
    * the identity (copy 0 is the original). */
  private def affine(k: Int): String = {
    val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val a = units(k % units.size)
    val b = k / units.size
    (0 until 26).map(i => ('a' + (a * i + b) % 26).toChar).mkString
  }

  /** Writes `nCopies` DISJOINT copies of the tables under `src` to `out`
    * (skipped when `out` already holds a finished build). Disjoint copies
    * keep the local structure (degree distribution, per-order baskets,
    * per-doc n-gram profile) as it is while multiplying volume exactly, so
    * the kernels' output volume grows exactly linearly by construction and
    * any super-linear run time is the engine's, not the data's.
    *
    *  - lineitem/orders/part: key-offset copies (orderkey, partkey, custkey
    *    and suppkey shifted per copy), so the co-purchase graph and the
    *    user–item frame become `nCopies` disjoint isomorphic components;
    *  - supplier/customer: key-offset copies in step with lineitem and
    *    orders, so the customer–supplier graphs ([[TestGraphs.custSupp]],
    *    custSuppTemporal, suppCoPairs) become disjoint components too;
    *  - events: event_id/user_id-offset copies with ts unchanged;
    *  - documents (up to 312 copies, one [[affine]] cipher each; past that
    *    the corpus is graph tables only): doc_id-offset copies;
    *  - region/nation: copied unchanged. Embeddings are not copied.
    *
    * [[TestGraphs.suppRing]] (behind waitFor/taggedWaitFor) derives edges
    * as (3s+1) mod |supplier|, so at N× suppliers it is one N×-sized ring,
    * not N disjoint rings: N× the edges with the same out-degree profile,
    * but the copies mix.
    *
    * Throws when the customer ids of the copies would reach
    * [[TestGraphs.SuppOffset]]: they would alias into the supplier id
    * range and merge components (run with SPARK_GRAFT_SUPP_OFFSET=1000000000
    * for a collision-free construction). */
  def copies(spark: SparkSession, src: String, out: String, nCopies: Int): Unit = {
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val maxC = ord.agg(max(col("o_custkey"))).first().getLong(0) + 1
    require(nCopies * maxC <= TestGraphs.SuppOffset,
      s"$nCopies copies alias customer ids (up to ${nCopies * maxC - 1}) into the " +
        s"supplier range at SuppOffset=${TestGraphs.SuppOffset}; set " +
        "SPARK_GRAFT_SUPP_OFFSET=1000000000 for a collision-free construction")
    if (new java.io.File(s"$out/_DONE_v4").exists()) return
    new java.io.File(out).mkdirs()
    val part = spark.read.parquet(s"$src/part.parquet")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val maxO = ord.agg(max(col("o_orderkey"))).first().getLong(0) + 1
    val maxP = math.max(li.agg(max(col("l_partkey"))).first().getLong(0),
      part.agg(max(col("p_partkey"))).first().getLong(0)) + 1
    val maxD = docs.agg(max(col("doc_id"))).first().getLong(0) + 1
    val maxS = supp.agg(max(col("s_suppkey"))).first().getLong(0) + 1
    val maxE = ev.agg(max(col("event_id"))).first().getLong(0) + 1
    val maxU = ev.agg(max(col("user_id"))).first().getLong(0) + 1
    val k = col("__k")
    def shift(c: String, step: Long): (String, Column) = c -> (col(c) + k * step)
    def write(df: DataFrame, table: String, cols: (String, Column)*): Unit =
      cols.foldLeft(df.withColumn("__k", explode(array((0 until nCopies).map(lit): _*)))) {
        case (d, (c, e)) => d.withColumn(c, e)
      }.drop("__k").write.mode("overwrite").parquet(s"$out/$table.parquet")
    write(li, "lineitem", shift("l_orderkey", maxO), shift("l_partkey", maxP),
      shift("l_suppkey", maxS))
    write(ord, "orders", shift("o_orderkey", maxO), shift("o_custkey", maxC))
    write(part, "part", shift("p_partkey", maxP))
    write(supp, "supplier", shift("s_suppkey", maxS))
    write(cust, "customer", shift("c_custkey", maxC))
    write(ev, "events", shift("event_id", maxE), shift("user_id", maxU))
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    if (nCopies <= 312) {
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      write(docs, "documents", shift("doc_id", maxD), "text" ->
        (0 until nCopies).foldLeft(col("text")) { (c, i) =>
          when(k === i, translate(col("text"), alpha, affine(i))).otherwise(c)
        })
    }
    new java.io.File(s"$out/_DONE_v4").createNewFile()
    ()
  }

  /** `edges` (src, dst, w) plus one planted hub vertex (max id + 1) joined
    * in both directions to every vertex of `edges`, each hub edge repeated
    * ⌈(|E|·pct/100) / |V|⌉ times, so the hub holds at least `pct`% of |E|
    * per direction. A hot key's row share is what shuffle skew is about,
    * so parallel edges are the filler when |V| is below the target. The
    * hub has both the high in-degree that stresses a kernel's
    * `groupBy(id)` message combine and the high out-degree that stresses
    * its frontier ⋈ edges join. */
  def plantedHub(edges: DataFrame, pct: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
    val s = e.agg(count(lit(1)), countDistinct(col("src")),
      greatest(max(col("src")), max(col("dst")))).first()
    val (nE, nV, hubId) = (s.getLong(0), s.getLong(1), s.getLong(2) + 1)
    val mult = math.max(1L, (nE * pct / 100 + nV - 1) / nV).toInt
    val star = e.select(col("src").as("v")).distinct()
      .withColumn("__m", explode(array((0 until mult).map(lit): _*)))
      .select(lit(hubId).as("src"), col("v").as("dst"), lit(1L).as("w"))
    e.unionByName(star).unionByName(star.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }
}
