package graft.io

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph sources/sinks mirroring the reference's io/formats family
  * (SURVEY §2.1-2.2) as Spark readers/writers.
  *
  * Conventions: a "vertex frame" is (id BIGINT, value …), an "edge frame"
  * is (src BIGINT, dst BIGINT[, w]). Text formats parse with pure Column
  * expressions (codegen'd, no per-line UDF); the JSON vertex format uses
  * from_json with an explicit schema.
  */
object GraphFormats {

  /** AdjacencyListTextVertexInputFormat
    * (CORE/io/formats/AdjacencyListTextVertexInputFormat.java:31-47):
    * line = `id<d>value<d>dst1<d>w1<d>dst2<d>w2…`, delimiter configurable.
    * Returns (vertices(id, value), edges(src, dst, w)). */
  def readAdjacencyList(spark: SparkSession, path: String,
                        delimiter: String = "\t"): (DataFrame, DataFrame) = {
    val arr = split(col("value"), Pattern.quote(delimiter))
    val parsed = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(arr.as("a"))
      .select(
        element_at(col("a"), 1).cast("long").as("id"),
        element_at(col("a"), 2).cast("double").as("value"),
        when(size(col("a")) > 2,
          transform(sequence(lit(3), size(col("a")) - 1, lit(2)),
            i => struct(
              element_at(col("a"), i).cast("long").as("dst"),
              element_at(col("a"), i + 1).cast("double").as("w"))))
          .otherwise(array().cast("array<struct<dst:bigint,w:double>>")).as("adj"))
    val vertices = parsed.select(col("id"), col("value"))
    val edges = parsed.select(col("id").as("src"), explode(col("adj")).as("e"))
      .select(col("src"), col("e.dst").as("dst"), col("e.w").as("w"))
    (vertices, edges)
  }

  /** JsonLongDoubleFloatDoubleVertexInputFormat
    * (CORE/io/formats/JsonLongDoubleFloatDoubleVertexInputFormat.java:55-61):
    * line = `[id, value, [[dst, w], …]]`. */
  def readJsonVertexLines(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    parseJsonVertexLines(spark.read.text(path).select(col("value").as("line")))

  /** Same, from an in-memory frame with a `line` column (test fixture path,
    * mirroring InternalVertexRunner's text-lines entry, SURVEY §3.3). */
  def parseJsonVertexLines(lines: DataFrame): (DataFrame, DataFrame) = {
    // JSON array of mixed types: parse id/value scalars + nested edge array
    val parsed = lines
      .select(from_json(col("line"), lit("array<string>")).as("a"))
      .select(
        element_at(col("a"), 1).cast("long").as("id"),
        element_at(col("a"), 2).cast("double").as("value"),
        from_json(element_at(col("a"), 3), lit("array<array<double>>")).as("adj"))
    val vertices = parsed.select(col("id"), col("value"))
    val edges = parsed.select(col("id").as("src"), explode(col("adj")).as("e"))
      .select(col("src"),
        element_at(col("e"), 1).cast("long").as("dst"),
        element_at(col("e"), 2).cast("double").as("w"))
    (vertices, edges)
  }

  /** IntNullTextEdgeInputFormat (CORE/io/formats/IntNullTextEdgeInputFormat
    * .java): `src<TAB>dst` per line; optional third weight column. */
  def readEdgeList(spark: SparkSession, path: String,
                   delimiter: String = "\t"): DataFrame = {
    val arr = split(col("value"), Pattern.quote(delimiter))
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(
        element_at(arr, 1).cast("long").as("src"),
        element_at(arr, 2).cast("long").as("dst"),
        when(size(arr) > 2, element_at(arr, 3).cast("double"))
          .otherwise(lit(null).cast("double")).as("w"))
  }

  /** ReverseEdgeDuplicator (CORE/io/ReverseEdgeDuplicator.java): emit each
    * edge in both directions at load. */
  def withReverseEdges(edges: DataFrame): DataFrame = {
    val cols = edges.columns
    edges.union(
      edges.withColumnRenamed("src", "t_").withColumnRenamed("dst", "src")
        .withColumnRenamed("t_", "dst").select(cols.map(col).toSeq: _*))
  }

  /** IdWithValueTextOutputFormat
    * (CORE/io/formats/IdWithValueTextOutputFormat.java:40-100):
    * `id<TAB>value` per line, sorted by id for stable file hashes. */
  def writeIdWithValue(vertices: DataFrame, path: String,
                       delimiter: String = "\t"): Unit =
    vertices.orderBy(col("id"))
      .select(concat_ws(delimiter, col("id"), col("value")).as("value"))
      .write.mode("overwrite").text(path)

  /** AdjacencyListTextVertexOutputFormat: full adjacency line round-trip. */
  def writeAdjacencyList(vertices: DataFrame, edges: DataFrame, path: String,
                         delimiter: String = "\t"): Unit = {
    val adj = edges.orderBy(col("src"), col("dst"))
      .groupBy(col("src").as("id"))
      .agg(flatten(collect_list(array(col("dst").cast("string"),
        col("w").cast("string")))).as("adj"))
    vertices.join(adj, Seq("id"), "left").orderBy(col("id"))
      .select(concat_ws(delimiter,
        (Seq(col("id"), col("value")) :+ concat_ws(delimiter, col("adj"))): _*).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** SrcIdDstIdEdgeValueTextOutputFormat: one `src<TAB>dst<TAB>w` line per
    * edge. */
  def writeEdgeList(edges: DataFrame, path: String, delimiter: String = "\t"): Unit =
    edges.orderBy(col("src"), col("dst"))
      .select(concat_ws(delimiter, col("src"), col("dst"), col("w")).as("value"))
      .write.mode("overwrite").text(path)

  /** GraphvizOutputFormat (CORE/io/formats/GraphvizOutputFormat.java):
    * digraph in .dot syntax. An explicit (section, src, dst) sort keys
    * the whole file — union partition order alone is not stable through
    * write/read. */
  def writeGraphviz(edges: DataFrame, path: String): Unit = {
    val spark = edges.sparkSession
    import spark.implicits._
    val body = edges.select(
      concat(lit("  "), col("src"), lit(" -> "), col("dst"), lit(";")).as("value"),
      lit(1).as("sect"), col("src").as("o1"), col("dst").as("o2"))
    Seq(("digraph g {", 0, -1L, -1L), ("}", 2, -1L, -1L))
      .toDF("value", "sect", "o1", "o2")
      .unionByName(body)
      .orderBy(col("sect"), col("o1"), col("o2"))
      .select("value")
      .coalesce(1).write.mode("overwrite").text(path)
  }

  /** SequenceFileVertexInput/OutputFormat equivalent: the binary format of
    * choice here is parquet. */
  def writeVerticesParquet(vertices: DataFrame, path: String): Unit =
    vertices.write.mode("overwrite").parquet(path)

  def readVerticesParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed edge table: parquet pre-hash-partitioned AND pre-sorted on
    * `src` at write time. A graph stored this way joins/aggregates on its
    * bucket key with NO exchange at read time — the cross-session version
    * of the in-session `repartition(src).persist` every iterative algo
    * here does, and the right storage layout for a 100 TB edge corpus
    * that many jobs traverse (pay the shuffle once at ingest, never
    * again). Bucket counts should match or divide the consumer's
    * shuffle-partition count. External table: data lives at `path`, the
    * catalog entry (`table`) carries the bucket spec. */
  def writeBucketedEdges(edges: DataFrame, table: String, path: String,
                         buckets: Int): Unit =
    edges.write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src")
      .option("path", path)
      .saveAsTable(table)

  /** IntIntNullTextInputFormat
    * (CORE/io/formats/IntIntNullTextInputFormat.java:38-76): line =
    * `id nbr1 nbr2 …` ([\t ] separated), unweighted; the vertex value is
    * its id. Returns (vertices(id, value), edges(src, dst)). */
  def readIdNeighborsText(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val arr = split(trim(col("value")), "[\t ]")
    val parsed = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(arr.as("a"))
      .select(element_at(col("a"), 1).cast("long").as("id"),
        slice(col("a"), lit(2), greatest(size(col("a")) - 1, lit(0))).as("nbrs"))
    val vertices = parsed.select(col("id"), col("id").as("value"))
    val edges = parsed.select(col("id").as("src"), explode(col("nbrs")).as("d"))
      .select(col("src"), col("d").cast("long").as("dst"))
    (vertices, edges)
  }

  /** IntIntTextVertexValueInputFormat
    * (CORE/io/formats/IntIntTextVertexValueInputFormat.java:39-73):
    * line = `id value` ([\t ] separated). Covers the typed id[+value]
    * vertex family (IntIntNull / IntNullNull / LongLongNull …) — the id
    * and value parse as BIGINT and cast wherever narrower types are
    * needed. */
  def readIdValueText(spark: SparkSession, path: String): DataFrame = {
    val arr = split(trim(col("value")), "[\t ]")
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(element_at(arr, 1).cast("long").as("id"),
        element_at(arr, 2).cast("long").as("value"))
  }

  // JsonBase64 ---------------------------------------------------------

  /** 8-byte big-endian binary of a BIGINT column — LongWritable.write's
    * exact wire bytes (DataOutput.writeLong is big-endian). */
  private def beLong(c: Column): Column = unhex(lpad(hex(c), 16, "0"))

  /** Inverse of [[beLong]], sign-correct: conv() parses hex unsigned, so
    * values past Long.MaxValue wrap back by 2⁶⁴ through decimal. */
  private def longFromBe(c: Column): Column = {
    val u = conv(hex(c), 16, 10).cast(org.apache.spark.sql.types.DataTypes.createDecimalType(20, 0))
    when(u > lit(Long.MaxValue),
      u - lit(new java.math.BigDecimal("18446744073709551616")))
      .otherwise(u).cast("long")
  }

  /** IEEE-754 bit pattern of a double column (DoubleWritable's wire
    * long). reflect() is interpreted, not codegen'd — acceptable for a
    * migration I/O format, still no UDF. */
  private def doubleBits(c: Column): Column =
    reflect(lit("java.lang.Double"), lit("doubleToLongBits"), c).cast("long")

  private def doubleFromBits(c: Column): Column =
    reflect(lit("java.lang.Double"), lit("longBitsToDouble"), c).cast("double")

  /** JsonBase64VertexOutputFormat
    * (CORE/io/formats/JsonBase64VertexOutputFormat.java:48-100 +
    * JsonBase64VertexFormat.java:26-30 for the JSON keys): one JSON
    * object per line, `vertexId`/`vertexValue`/`edgeArray` holding the
    * base64 of the exact Writable wire bytes (id = 8-byte BE long,
    * value = 8-byte BE double bits, edge = 16 bytes dst+weight) — data
    * written here is byte-compatible with the reference's reader for the
    * Long/Double/Double vertex family. */
  def writeJsonBase64(vertices: DataFrame, edges: DataFrame, path: String): Unit = {
    val adj = edges.orderBy(col("src"), col("dst"))
      .select(col("src").as("id"),
        base64(concat(beLong(col("dst")), beLong(doubleBits(col("w"))))).as("e"))
      .groupBy(col("id")).agg(collect_list(col("e")).as("edgeArray"))
    vertices.join(adj, Seq("id"), "left").orderBy(col("id"))
      .select(to_json(struct(
        base64(beLong(col("id"))).as("vertexId"),
        base64(beLong(doubleBits(col("value")))).as("vertexValue"),
        coalesce(col("edgeArray"), array().cast("array<string>")).as("edgeArray"))).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** JsonBase64VertexInputFormat
    * (CORE/io/formats/JsonBase64VertexInputFormat.java): inverse of
    * [[writeJsonBase64]]. */
  def readJsonBase64(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val parsed = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(from_json(col("value"),
        lit("struct<vertexId:string,vertexValue:string,edgeArray:array<string>>")).as("v"))
      .select(longFromBe(unbase64(col("v.vertexId"))).as("id"),
        doubleFromBits(longFromBe(unbase64(col("v.vertexValue")))).as("value"),
        col("v.edgeArray").as("adj"))
    val vertices = parsed.select(col("id"), col("value"))
    val edges = parsed.select(col("id").as("src"), explode(col("adj")).as("e"))
      .select(col("src"),
        longFromBe(substring(unbase64(col("e")), 1, 8)).as("dst"),
        doubleFromBits(longFromBe(substring(unbase64(col("e")), 9, 8))).as("w"))
    (vertices, edges)
  }
}
