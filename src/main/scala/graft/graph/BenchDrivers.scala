package graft.graph

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.owned

/** Messaging / aggregator stress drivers — the reference's benchmark
  * family that exercises the BSP plumbing rather than an algorithm:
  * RandomMessageBenchmark (giraph-core
  * .../benchmark/RandomMessageBenchmark.java — every vertex sends
  * NUM_MESSAGES byte[] messages of MESSAGE_BYTES to random neighbors for
  * SUPERSTEP_COUNT rounds, reporting aggregate message count/bytes per
  * superstep) and AggregatorsBenchmark (.../benchmark/
  * AggregatorsBenchmark.java — N registered aggregators updated every
  * superstep).
  *
  * Differences by design: destination choice is md5-derived, not RNG —
  * deterministic runs are comparable across executions and partition
  * layouts (the same sampling-determinism rule the corpus samplers
  * follow). Only per-superstep scalar aggregates ever reach the driver,
  * so the drivers measure the engine's shuffle/combine path at any scale.
  */
object BenchDrivers {

  /** RandomMessageBenchmark analog. Each superstep every vertex sends
    * `msgsPerVertex` messages (each `payloadBytes` long) to the
    * md5-selected subset of its neighbors; the combiner pre-aggregates
    * (count, bytes) per destination map-side — the messaging fabric under
    * test is exactly the per-superstep groupBy shuffle. Returns one row
    * per superstep: (superstep, msgs, bytes) — all scalars, collected via
    * the aggregatorWriter hook. */
  def randomMessages(
      symEdges: DataFrame,
      supersteps: Int,
      msgsPerVertex: Int,
      payloadBytes: Int): DataFrame = owned { o =>
    val spark = symEdges.sparkSession
    val verts = symEdges.select(col("src").as("id"))
      .union(symEdges.select(col("dst").as("id"))).distinct()
      .select(col("id"), lit(0L).as("msgs"), lit(0L).as("bytes"),
        lit(true).as("active"))

    val stats = ArrayBuffer.empty[(Int, Long, Long)]
    o(Pregel.run(
      verts,
      symEdges.select("src", "dst"),
      // rank each vertex's neighbors by md5(src:dst) and send to the
      // first `msgsPerVertex` — a deterministic "random" neighbor pick
      // evaluated inside the join, no per-vertex neighbor collection
      sendMsg = j => j
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
            .orderBy(md5(concat_ws(":", col("src"), col("dst"))), col("dst"))))
        .filter(col("rk") <= msgsPerVertex)
        .select(col("dst").as("id"),
          struct(lit(1L).as("n"), lit(payloadBytes.toLong).as("b")).as("m")),
      combineMsg = struct(sum(col("m.n")).as("n"), sum(col("m.b")).as("b")),
      vprog = (vs, ms) => vs.drop("msgs", "bytes").join(ms, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("msg.n"), lit(0L)).as("msgs"),
          coalesce(col("msg.b"), lit(0L)).as("bytes"),
          lit(true).as("active")),
      opts = PregelOptions(
        maxSupersteps = supersteps,
        aggregators = Map(
          "msgs" -> sum(col("msgs")), "bytes" -> sum(col("bytes"))),
        aggregatorWriter = Some((step, vals) => stats.synchronized {
          stats += ((step,
            vals("msgs").asInstanceOf[Long], vals("bytes").asInstanceOf[Long]))
        }))))
    import spark.implicits._
    stats.sortBy(_._1).toSeq.toDF("superstep", "msgs", "bytes")
  }

  /** AggregatorsBenchmark analog: a trivial compute with `nAggs`
    * registered aggregators evaluated over the vertex frame every
    * superstep (one aggregation job per superstep regardless of N — the
    * aggregates share a single pass, the sharded-aggregator-router
    * equivalence SURVEY §2.10 documents). Returns (superstep, agg_name,
    * value) rows. */
  def aggregatorStress(
      symEdges: DataFrame,
      supersteps: Int,
      nAggs: Int): DataFrame = owned { o =>
    val spark = symEdges.sparkSession
    val verts = symEdges.select(col("src").as("id"))
      .union(symEdges.select(col("dst").as("id"))).distinct()
      .select(col("id"), lit(true).as("active"))

    val rows = ArrayBuffer.empty[(Int, String, Long)]
    val aggs = (0 until nAggs).map { k =>
      s"agg_$k" -> sum(col("id") * lit(k + 1L))
    }.toMap[String, org.apache.spark.sql.Column]
    o(Pregel.run(
      verts,
      symEdges.select("src", "dst"),
      sendMsg = j => j.select(col("dst").as("id"), lit(1L).as("m")),
      combineMsg = sum(col("m")),
      vprog = (vs, ms) => vs.join(ms, Seq("id"), "left")
        .select(col("id"), lit(true).as("active")),
      opts = PregelOptions(
        maxSupersteps = supersteps,
        aggregators = aggs,
        aggregatorWriter = Some((step, vals) => rows.synchronized {
          vals.foreach { case (n, v) =>
            rows += ((step, n, v.asInstanceOf[Long]))
          }
        }))))
    import spark.implicits._
    rows.sortBy(r => (r._1, r._2)).toSeq.toDF("superstep", "agg_name", "value")
  }
}
