package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash signature as a native Catalyst expression.
  *
  * Semantics (the DuckDB oracle replays exactly this): hash a =
  * md5(a || ":" || shingle) for a in 0..⌈numHashes/4⌉−1; each md5 yields
  * four independent 8-hex-digit words; signature entry j = lexicographic
  * min over shingles of word j%4 of hash ⌊j/4⌋ (fixed-width lowercase
  * hex, so string min == unsigned numeric min).
  *
  * Why an Expression and not composed Columns: the declarative form
  * (transform/array_min over a pre-split word pool) allocates an
  * intermediate word array per (row, entry) — ~190M UTF8String
  * allocations at sf0.1 — and re-evaluates the md5 pool per entry when
  * CollapseProject inlines it. This expression walks the shingle array
  * once per row, computes ⌈numHashes/4⌉ digests per shingle, and folds
  * the mins in local arrays — no intermediate structure at all.
  * CodegenFallback is fine here: the per-row work (hundreds of md5s)
  * dwarfs the fallback's boxing overhead, and the surrounding projection
  * still codegens. Measured 2.5× faster than the best declarative
  * arrangement on q_dedup_minhash at sf0.1.
  */
case class MinhashSignature(child: Expression, numHashes: Int)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_signature"

  private val numMd5 = (numHashes + 3) / 4

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = MinhashSignature.digest.get()
    val mins = new Array[String](numHashes)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { // a NULL shingle hashes to nothing
        val sBytes = arr.getUTF8String(i).getBytes
        var a = 0
        while (a < numMd5) {
          md.reset()
          md.update((a.toString + ":").getBytes("US-ASCII"))
          md.update(sBytes)
          val hex = hexString(md.digest())
          var b = 0
          var j = a * 4
          while (b < 4 && j < numHashes) {
            val w = hex.substring(b * 8, b * 8 + 8)
            if (mins(j) == null || w.compareTo(mins(j)) < 0) mins(j) = w
            b += 1; j += 1
          }
          a += 1
        }
      }
      i += 1
    }
    new GenericArrayData(
      mins.map(m => if (m == null) null else UTF8String.fromString(m))
        .asInstanceOf[Array[Any]])
  }

  private def hexString(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object MinhashSignature {
  /** One digest per executor thread, reset per use — getInstance runs a
    * provider lookup + allocation, measurably hot at one per ROW. */
  private[graft] val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
}

/** One-pass SimHash over a shingle-set column, 32 or 60 bits wide.
  *
  * Semantics (oracle-replayable): bit j is set when at least half of the
  * shingles (count·2 ≥ n) have digest bit j set, and digest bit j is bit
  * j % bitsPerDigit of the VALUE of md5 hex digit ⌊j / bitsPerDigit⌋:
  *   - width 32 (`simhash32`): the parity of each of 32 hex digits;
  *   - width 60 (`simhash60`, the pairing-grade fingerprint): all four
  *     bits of each of 15 hex digits. 60 bits keep LSH bands over the
  *     fingerprint discriminating even on statistically-similar corpora
  *     (a 32-bit fingerprint's band values concentrate and explode the
  *     candidate join), while staying inside a positive BIGINT in both
  *     engines (bit 63 would overflow DuckDB's POWER(2, j) BIGINT cast).
  * NULL shingles hash to nothing but count toward n; a NULL array yields
  * 0. Both are what the composed `aggregate`/`filter`/`md5` form and the
  * DuckDB twins answer.
  *
  * Native expression for the same reason as [[MinhashSignature]]: one md5
  * + `width` local counter bumps per shingle, where the composed form
  * re-hashed every shingle once per output bit.
  */
case class Simhash(child: Expression, width: Int)
  extends UnaryExpression with CodegenFallback {

  require(width == 32 || width == 60, s"simhash width must be 32 or 60, got $width")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = false
  override def prettyName: String = s"simhash$width"

  private val bitsPerDigit = if (width == 32) 1 else 4
  /** Digest bit j is bit `shift(j)` of byte `byteIdx(j)`: hex digit p is
    * the high nibble of byte p/2 when p is even. */
  private val byteIdx = Array.tabulate(width)(j => j / bitsPerDigit / 2)
  private val shift = Array.tabulate(width) { j =>
    (if (j / bitsPerDigit % 2 == 0) 4 else 0) + j % bitsPerDigit
  }

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return 0L
    val n = arr.numElements()
    val md = MinhashSignature.digest.get()
    val cnt = new Array[Int](width)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < width) {
          cnt(j) += (d(byteIdx(j)) >> shift(j)) & 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < width) {
      if (cnt(j) * 2 >= n) out |= 1L << j
      j += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash =
    copy(child = newChild)
}
