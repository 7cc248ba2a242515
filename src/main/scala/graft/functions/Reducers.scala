package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Global aggregation operators: the reference's Aggregator /
  * ReduceOperation monoids (SURVEY §2.5).
  *
  * Most built-ins (Int/Long/Float/Double × {Min,Max,Sum}, Boolean
  * And/Or — giraph-core aggregators package) map directly onto Spark SQL
  * aggregate functions; [[columnFor]] gives that mapping. The ones Spark
  * lacks natively (product, pair-max, elementwise vector sum) are typed
  * `Aggregator[IN,BUF,OUT]`s — the exact Spark analog of
  * `ReduceOperation.createInitialValue/reduce/reduceMerge`
  * (CORE/reducers/ReduceOperation.java:36-63). Spark runs them
  * partial+final over the shuffle, which is precisely the reference's
  * sharded-aggregator design (src/site/xdoc/aggregators.xml:70-71) —
  * nothing to hand-build.
  */
object Reducers {

  /** Column-level mapping for the 25 built-in aggregators
    * (CORE/aggregators): name → aggregate expression. */
  def columnFor(name: String, c: Column): Column = name match {
    case "min"     => min(c)
    case "max"     => max(c)
    case "sum"     => sum(c)
    case "and"     => bool_and(c)
    case "or"      => bool_or(c)
    case "xor"     => bit_xor(c)
    case "overwrite" => last(c)
    case "append"  => concat_ws("", collect_list(c))   // TextAppendAggregator
    case "product" => productCol(c)
    case other     => throw new IllegalArgumentException(s"unknown reducer: $other")
  }

  /** Product of a double column via exp∘sum∘ln with sign/zero handling
    * (DoubleProductAggregator, CORE/aggregators/DoubleProductAggregator). */
  def productCol(c: Column): Column = {
    val zeros = sum(when(c === 0.0, 1).otherwise(0))
    val negs = sum(when(c < 0.0, 1).otherwise(0))
    val mag = exp(sum(log(abs(nullif(c, lit(0.0))))))
    when(zeros > 0, lit(0.0))
      .otherwise(when(pmod(negs, lit(2)) === 1, -mag).otherwise(mag))
  }

  /** ReduceOperation analog: product over Long (LongProduct reducer). */
  object LongProduct extends Aggregator[Long, Long, Long] {
    def zero: Long = 1L
    def reduce(b: Long, a: Long): Long = b * a
    def merge(b1: Long, b2: Long): Long = b1 * b2
    def finish(r: Long): Long = r
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** LongXorReduce (CORE/reducers/impl/LongXorReduce.java). */
  object LongXor extends Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: Long): Long = b ^ a
    def merge(b1: Long, b2: Long): Long = b1 ^ b2
    def finish(r: Long): Long = r
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** MaxPairReducer (CORE/reducers/impl/MaxPairReducer.java): keep the
    * (id, value) pair with max value; min id breaks ties
    * deterministically. */
  object MaxPair extends Aggregator[(Long, Double), (Long, Double), (Long, Double)] {
    def zero: (Long, Double) = (Long.MaxValue, Double.NegativeInfinity)
    def reduce(b: (Long, Double), a: (Long, Double)): (Long, Double) = pick(b, a)
    def merge(b1: (Long, Double), b2: (Long, Double)): (Long, Double) = pick(b1, b2)
    private def pick(x: (Long, Double), y: (Long, Double)) =
      if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x
    def finish(r: (Long, Double)): (Long, Double) = r
    def bufferEncoder: Encoder[(Long, Double)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    def outputEncoder: Encoder[(Long, Double)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
  }

  /** Dense vector sum (aggregators/matrix/dense family): elementwise sum
    * of equal-length arrays. */
  final class VectorSum(dim: Int) extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    def zero: Array[Double] = Array.fill(dim)(0.0)
    def reduce(b: Array[Double], a: Seq[Double]): Array[Double] = {
      var i = 0; while (i < dim) { b(i) += a(i); i += 1 }; b
    }
    def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
      var i = 0; while (i < dim) { b1(i) += b2(i); i += 1 }; b1
    }
    def finish(r: Array[Double]): Seq[Double] = r.toSeq
    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Sparse vector sum (CORE/aggregators/matrix/sparse — the
    * {Double,Float,Int,Long}SparseVectorSumAggregator family, one class
    * per primitive there; one generic here): vectors are index→value
    * maps, merge is entrywise sum, indices present on one side pass
    * through — what you'd actually aggregate at scale, where dense
    * dim-length arrays per vertex don't fit. Spark runs it
    * partial+final over the shuffle like every typed Aggregator. */
  final class SparseVectorSum[T](implicit num: Numeric[T],
                                 tt: scala.reflect.runtime.universe.TypeTag[Map[Int, T]])
    extends Aggregator[Map[Int, T], Map[Int, T], Map[Int, T]] {
    def zero: Map[Int, T] = Map.empty
    def reduce(b: Map[Int, T], a: Map[Int, T]): Map[Int, T] = merge(b, a)
    def merge(b1: Map[Int, T], b2: Map[Int, T]): Map[Int, T] = {
      val (small, large) = if (b1.size < b2.size) (b1, b2) else (b2, b1)
      small.foldLeft(large) { case (m, (k, v)) =>
        m.updated(k, num.plus(m.getOrElse(k, num.zero), v))
      }
    }
    def finish(r: Map[Int, T]): Map[Int, T] = r
    def bufferEncoder: Encoder[Map[Int, T]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Int, T]]()
    def outputEncoder: Encoder[Map[Int, T]] = bufferEncoder
  }

  /** Sparse matrix sum (CORE/aggregators/matrix/sparse
    * {Double,Float,Int,Long}SparseMatrixSumAggregator): row → sparse
    * vector, merged row-wise — the reference registers one vector
    * aggregator per row name; here the whole matrix is one monoid. */
  final class SparseMatrixSum[T](implicit num: Numeric[T],
                                 tt: scala.reflect.runtime.universe.TypeTag[Map[Int, Map[Int, T]]])
    extends Aggregator[Map[Int, Map[Int, T]], Map[Int, Map[Int, T]], Map[Int, Map[Int, T]]] {
    private def mergeRow(r1: Map[Int, T], r2: Map[Int, T]): Map[Int, T] = {
      val (small, large) = if (r1.size < r2.size) (r1, r2) else (r2, r1)
      small.foldLeft(large) { case (m, (k, v)) =>
        m.updated(k, num.plus(m.getOrElse(k, num.zero), v))
      }
    }
    def zero: Map[Int, Map[Int, T]] = Map.empty
    def reduce(b: Map[Int, Map[Int, T]], a: Map[Int, Map[Int, T]]): Map[Int, Map[Int, T]] =
      merge(b, a)
    def merge(b1: Map[Int, Map[Int, T]], b2: Map[Int, Map[Int, T]]): Map[Int, Map[Int, T]] = {
      val (small, large) = if (b1.size < b2.size) (b1, b2) else (b2, b1)
      small.foldLeft(large) { case (m, (row, vec)) =>
        m.updated(row, m.get(row).map(mergeRow(_, vec)).getOrElse(vec))
      }
    }
    def finish(r: Map[Int, Map[Int, T]]): Map[Int, Map[Int, T]] = r
    def bufferEncoder: Encoder[Map[Int, Map[Int, T]]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Int, Map[Int, T]]]()
    def outputEncoder: Encoder[Map[Int, Map[Int, T]]] = bufferEncoder
  }

  /** TopNReduce (BLOCK_APP/reducers/TopNReduce.java): keep the N largest
    * elements. The buffer is bounded at N exactly like the reference's
    * capped PriorityQueue (evict-min on insert), so map-side partial
    * aggregation carries at most N elements per partition — the property
    * that makes a global top-N cheap at scale (shuffle volume is
    * partitions·N, not the input). finish returns descending order. For
    * plain column top-N prefer native sort+limit (Catalyst's
    * TakeOrderedAndProject); this is the reducer-shaped form for
    * typed/Pregel aggregation. */
  final class TopNLong(n: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {
    def zero: Seq[Long] = Vector.empty
    def reduce(b: Seq[Long], a: Long): Seq[Long] =
      if (n <= 0) b // capacity 0: keep nothing (empty minBy would throw)
      else if (b.size < n) b :+ a
      else {
        val (mn, at) = b.iterator.zipWithIndex.minBy(_._1)
        if (a > mn) b.updated(at, a) else b // evict-min, the heap's move
      }
    def merge(b1: Seq[Long], b2: Seq[Long]): Seq[Long] =
      b2.foldLeft(b1)(reduce)
    def finish(r: Seq[Long]): Seq[Long] = r.sorted(Ordering[Long].reverse)
    def bufferEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    def outputEncoder: Encoder[Seq[Long]] = bufferEncoder
  }

  /** DataFrame-native sparse vector sum — the scale path when sparse
    * vectors are a map column: explode to (index, value) rows, sum per
    * index (partial+final HashAggregate, no per-row map allocation).
    * Returns (index INT, value) rows. */
  def sparseVectorSumByExplode(df: org.apache.spark.sql.DataFrame, mapCol: String): org.apache.spark.sql.DataFrame =
    df.select(explode(col(mapCol)).as(Seq("index", "value")))
      .groupBy(col("index")).agg(sum(col("value")).as("value"))
}
