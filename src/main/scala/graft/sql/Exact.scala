package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-exact float output encoding.
  *
  * ROUND(double, n) is NOT reproducible across engines even on
  * bit-identical input: Spark rounds via BigDecimal on the shortest
  * decimal string (HALF_UP), DuckDB via binary scaling — at (near-)tie
  * points like 41/640·10⁶ = 64062.5 they disagree. floor(x·10^k) shares
  * one pipeline everywhere: same input double → same multiply → same
  * floor, no tie semantics at all. Every float column the oracle hashes
  * is therefore emitted as a floor-scaled BIGINT (suffix _e2/_e4/_e6 =
  * scale 10²/10⁴/10⁶).
  */
object Exact {
  def floorScale(c: Column, scale: Long): Column =
    floor(c * lit(scale.toDouble)).cast("long")

  def e2(c: Column): Column = floorScale(c, 100L)
  def e4(c: Column): Column = floorScale(c, 10000L)
  def e6(c: Column): Column = floorScale(c, 1000000L)

  /** Exact BIGINT floor division (DuckDB's `//`): (a - a mod b) is an
    * exact multiple of b, and a correctly-rounded double division whose
    * true quotient is an integer ≤ 2^53 returns it exactly — so the two
    * engines agree bit-for-bit, unlike floor(a / b) where the double
    * quotient can round across an integer boundary. */
  def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")
}
