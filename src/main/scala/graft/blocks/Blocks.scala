package graft.blocks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Block framework (SURVEY §2.8): Giraph's composable per-superstep
  * operator algebra (giraph-block-app .../framework/block) re-expressed
  * as plain function combinators over the vertex frame. A `Step` is one
  * logical superstep — the send-half / master / receive-half of a Piece
  * (BLOCK/framework/piece/AbstractPiece.java:55-131) collapses into a
  * DataFrame → DataFrame transform; control flow (sequence / repeat /
  * repeat-until / if) is ordinary driver code, which is exactly how the
  * reference's MasterCompute drives phases (SURVEY §2.6).
  */
object Blocks {

  /** One composable superstep: vertex frame in, vertex frame out. */
  type Step = DataFrame => DataFrame

  /** SequenceBlock (BLOCK/framework/block/SequenceBlock.java:33). */
  def sequence(steps: Step*): Step =
    steps.reduceOption(_ andThen _).getOrElse(empty)

  /** RepeatBlock (RepeatBlock.java:33). */
  def repeat(n: Int)(s: Step): Step =
    df => (0 until n).foldLeft(df)((d, _) => s(d))

  /** RepeatUntilBlock (RepeatUntilBlock.java:37): repeat until `halt`
    * (fed by a driver-collected aggregate — the reducer-supplied
    * `Supplier<Boolean>` of the reference) or maxIter. */
  def repeatUntil(maxIter: Int)(s: Step)(halt: DataFrame => Boolean): Step = { df =>
    var cur = df
    var i = 0
    while (i < maxIter && !halt(cur)) { cur = s(cur); i += 1 }
    cur
  }

  /** IfBlock (IfBlock.java:30). */
  def when(cond: => Boolean)(s: Step): Step =
    df => if (cond) s(df) else df

  /** FilteringBlock (BLOCK/framework/block/FilteringBlock.java): run the
    * inner block only on vertices passing the predicate; pass the rest
    * through untouched. */
  def filtering(pred: Column)(s: Step): Step =
    df => s(df.filter(pred)).unionByName(df.filter(!pred))

  /** EmptyBlock (EmptyBlock.java:30). */
  val empty: Step = identity

  /** Pieces.forAllVertices (BLOCK/library/Pieces.java:65-92): per-vertex
    * column rewrite. */
  def forAllVertices(colName: String, value: Column): Step =
    _.withColumn(colName, value)

  /** Pieces.removeVertices (Pieces.java:140). */
  def removeVertices(pred: Column): Step = _.filter(!pred)

  /** Pieces.reduce / reduceWithMaster (Pieces.java:192-339): collect a
    * scalar aggregate to the driver and hand it to the master function. */
  def reduceWithMaster[T](agg: Column, master: T => Unit): Step = { df =>
    master(df.agg(agg).first().getAs[T](0))
    df
  }

  /** IterationCounterPiece (BLOCK/library/iteration): fold with the
    * iteration index exposed. */
  def repeatIndexed(n: Int)(s: (DataFrame, Int) => DataFrame): Step =
    df => (0 until n).foldLeft(df)(s)

  /** StripingUtils (BLOCK/library/striping/StripingUtils.java): split the
    * work into k id-hash stripes processed independently and re-unioned —
    * caps the peak footprint of an expensive step at 1/k of the frame. */
  def striped(k: Int)(s: Step): Step = df => {
    // materialize the input once: each stripe filters the SAME frame, so
    // without this an expensive upstream would be re-derived k times
    val base = df.localCheckpoint()
    (0 until k).map(i =>
        s(base.filter(pmod(hash(col("id")), lit(k)) === i)))
      .reduce(_ unionByName _)
  }

  /** SendMessageChain (BLOCK/library/SendMessageChain.java:80-145) — the
    * block library's most-used ergonomic: a fluent chain where every link
    * sends a message along out-edges and combines it per receiver, the
    * combined value (`col("msg")`) feeds the next link's message
    * expression, and `endConsume` folds the last combined value into the
    * vertex frame. Each link is exactly one superstep: a join of the
    * vertex frame with the (shared, pre-partitioned) edge frame plus one
    * combine aggregation — the same physical shape as Pregel.run's loop
    * body. Null messages are not sent (reference: a null
    * messageSupplier result sends nothing). */
  final class SendMessageChain private[Blocks] (
      edges: DataFrame, links: Vector[(Column, Column)]) {

    /** thenSendToNeighbors: add one more link; `msg` may reference vertex
      * columns, edge columns, and — from link 2 on — `col("msg")`, the
      * previous link's combined value. */
    def thenSendToNeighbors(msg: Column, combine: Column): SendMessageChain =
      new SendMessageChain(edges, links :+ (msg, combine))

    /** endConsume (SendMessageChain.java:313): finish the chain with a
      * consumer of (original vertex frame, combined messages(id, msg)). */
    def endConsume(consume: (DataFrame, DataFrame) => DataFrame): Step = { verts0 =>
      var verts = verts0
      var msgs: DataFrame = null
      links.foreach { case (msgExpr, comb) =>
        msgs = verts.join(edges, col("id") === col("src"))
          .select(col("dst").as("id"), msgExpr.as("m"))
          .filter(col("m").isNotNull)
          .groupBy(col("id")).agg(comb.as("msg"))
        // bind the combined value for the next link's message expression
        verts = verts0.drop("msg").join(msgs, Seq("id"), "left")
      }
      consume(verts0, msgs)
    }
  }

  /** startSendToNeighbors (SendMessageChain.java:124-137): open a chain
    * whose first link sends `msg` along every out-edge, combined per
    * receiver with `combine` (e.g. `min(col("m"))`). */
  def startSendToNeighbors(edges: DataFrame, msg: Column, combine: Column): SendMessageChain =
    new SendMessageChain(edges, Vector((msg, combine)))
}
