package graft.sql

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{MinhashSignature, Simhash, VecDot}

/** SQL surface for the engine's native Catalyst expressions, via the
  * standard `SparkSessionExtensions` hook — `spark.sql("SELECT
  * simhash60(shingles) …")` works anywhere the jar is on the classpath
  * with `spark.sql.extensions=graft.sql.GraftExtensions`, which is how a
  * cluster user opts in without touching driver code.
  *
  * [[GraftExtensions.register]] installs the same functions on an
  * already-running session (extensions configs only apply at session
  * construction), which is what tests and notebooks use.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v, _) if v != null => v.toString.toInt
    case other =>
      throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** (name, info, builder) triples in `injectFunction` shape. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[Simhash].getName, "simhash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash60(shingles) takes one argument")
        Simhash(args.head, 60)
      }),
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "minhash_signature(shingles, numHashes) takes two arguments")
        MinhashSignature(args.head, intArg(args(1), "numHashes"))
      }),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot(x, y) takes two arguments")
        VecDot(args.head, args(1))
      }))

  /** Install the functions on a live session (post-construction). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
