package graft

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.multimodal.Multimodal
import graft.pipeline.Corpus
import graft.text.TextFunctions

/** ScalaCheck properties over the engine's pure kernels — the pieces whose
  * contracts are algebraic: parsers must be total, packers must respect
  * their invariants, native expressions must match their specification
  * arithmetic. Only the simhash32 reference check runs through Spark,
  * because its reference is a Column composition. */
class PropertiesSpec extends SparkSpec {

  private def check(name: String, p: Prop, minTests: Int = 100): Unit = {
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(minTests), p)
    assert(r.passed, s"$name: ${r.status}")
  }

  // --- CDC chunker invariants -------------------------------------------

  test("cdcBoundaries: chunks tile any text and respect min/max for any params") {
    val gen = for {
      text <- Gen.asciiPrintableStr
      minLen <- Gen.choose(1, 10)
      maxLen <- Gen.choose(10, 60)
      div <- Gen.choose(2, 40)
    } yield (text, minLen, maxLen, div)
    check("tile", Prop.forAll(gen) { case (text, minLen, maxLen, div) =>
      val ends = graft.dedup.Dedup.cdcBoundaries(text, div = div, rem = div - 1,
        minLen = minLen, maxLen = maxLen)
      val tiled = text.isEmpty || ends.lastOption.contains(text.length)
      val sorted = ends == ends.sorted && ends.distinct == ends
      val lens = (0 +: ends.dropRight(1)).zip(ends).map { case (s, e) => e - s }
      // every chunk except the trailing remainder honors [minLen, maxLen]
      val bounded = lens.dropRight(1).forall(l => l >= minLen && l <= maxLen) &&
        lens.lastOption.forall(_ <= maxLen)
      tiled && sorted && bounded
    })
  }

  // --- PPM parser totality + round trip ---------------------------------

  test("decodePpm is total: arbitrary bytes never throw") {
    check("total", Prop.forAll(Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))) { bytes =>
      Multimodal.decodePpm(bytes)
      true
    })
  }

  test("decodeWav is total: arbitrary bytes never throw") {
    val riffish = for {
      junk <- Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
      prefix <- Gen.oneOf(Array.emptyByteArray, "RIFF".getBytes("US-ASCII"),
        "RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("US-ASCII"))
    } yield prefix ++ junk
    check("total", Prop.forAll(riffish) { bytes =>
      Multimodal.decodeWav(bytes) // hostile sizes/truncation → None, never a throw
      true
    })
  }

  test("decodeWav round-trips arbitrary valid parameters") {
    val p = Prop.forAll(
      Gen.choose(1, 8), Gen.choose(1, 192000), Gen.oneOf(8, 16, 24, 32),
      Gen.choose(0, 500), Gen.oneOf(0, 2, 5, 6, 9, 10)) { (ch, rate, bits, ns, junk) =>
      val enc = Multimodal.encodeWav(ch, rate, bits, ns, junk)
      Multimodal.decodeWav(enc).contains((ch, rate, bits, ns.toLong * ch * (bits / 8)))
    }
    check("roundtrip", p)
  }

  test("decodePpm round-trips arbitrary constructed headers") {
    val dim = Gen.choose(0, 999999999)
    val ws = Gen.nonEmptyListOf(Gen.oneOf(" ", "\n", "\t", "\r", "# c\n")).map(_.mkString)
    val p = Prop.forAll(dim, dim, Gen.choose(1, 65535), ws, ws, ws) {
      (w, h, mv, s1, s2, s3) =>
        val payload = s"P6$s1$w$s2$h$s3$mv\nPIXELS".getBytes("US-ASCII")
        Multimodal.decodePpm(payload).contains((w, h, mv))
    }
    check("roundtrip", p)
  }

  // --- greedy packer invariants ----------------------------------------

  private val blockGen = for {
    block <- Gen.oneOf("a", "b", "c")
    sizes <- Gen.listOf(Gen.choose(1L, 30L))
  } yield (block, sizes)

  /** Rows pre-sorted by (block, id) — the order greedyPack guarantees. */
  private val rowsGen: Gen[List[(Long, String, Long)]] =
    Gen.listOf(blockGen).map { blocks =>
      var id = -1L
      blocks.sortBy(_._1).flatMap { case (b, sizes) =>
        sizes.map { n => id += 1; (id, b, n) }
      }
    }

  test("greedy packing respects budget, contiguity, and id preservation") {
    val p = Prop.forAll(rowsGen, Gen.choose(5L, 60L)) { (rows, budget) =>
      val out = Corpus.packIterator(rows.iterator, budget).toList
      val byBin = out.groupBy(r => (r.block, r.bin))
      val budgetOk = byBin.values.forall { bin =>
        bin.map(_.n_tokens).sum <= budget || bin.length == 1 // oversized solo
      }
      val contiguous = out.groupBy(_.block).values.forall { rs =>
        val bins = rs.map(_.bin)
        bins.head == 0L && bins.zip(bins.tail).forall { case (a, b) => b == a || b == a + 1 }
      }
      val idsOk = out.map(_.doc_id) == rows.map(_._1)
      budgetOk && contiguous && idsOk
    }
    check("pack", p)
  }

  // --- native expressions match their specification arithmetic ----------

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private def evalOn(shingles: Seq[String],
                     mk: org.apache.spark.sql.catalyst.expressions.Expression =>
                       org.apache.spark.sql.catalyst.expressions.Expression): Any = {
    val arr = new GenericArrayData(
      shingles.map(s => UTF8String.fromString(s)).toArray[Any])
    mk(Literal.create(arr, ArrayType(StringType))).eval(null)
  }

  /** Shingle arrays as the kernels may meet them: empty, with NULL
    * elements, duplicates and non-ASCII text (md5 runs over UTF-8 bytes). */
  private val wildShinglesGen: Gen[List[String]] = {
    val shingle = Gen.frequency(
      6 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
      2 -> Gen.nonEmptyListOf(Gen.oneOf("é", "ß", "中文", "\uD83D\uDE00", "x"))
        .map(_.mkString),
      1 -> Gen.const(null: String))
    for {
      base <- Gen.listOf(shingle)
      dups <- Gen.choose(0, base.length)
    } yield base ++ base.take(dups)
  }

  /** …and, for the Spark-evaluated spec, also a NULL array. */
  private val wildShinglesOrNullGen: Gen[Option[List[String]]] =
    Gen.frequency(1 -> Gen.const(None), 8 -> wildShinglesGen.map(Some(_)))

  test("MinhashSignature equals the per-word md5-min specification") {
    val p = Prop.forAll(wildShinglesGen) { sh =>
      val got = evalOn(sh, e => graft.functions.MinhashSignature(e, 16))
        .asInstanceOf[ArrayData]
      val hashed = sh.filter(_ != null) // NULL shingles contribute nothing
      (0 until 16).forall { j =>
        val words = hashed.map(s => md5Hex(s"${j / 4}:$s").substring((j % 4) * 8, (j % 4) * 8 + 8))
        if (words.isEmpty) got.isNullAt(j) else got.getUTF8String(j).toString == words.min
      }
    }
    check("minhash", p, minTests = 50)
  }

  /** Simhash at `width` against its specification: digest bit j is bit
    * j % bitsPerDigit of md5 hex digit j / bitsPerDigit. */
  private def checkSimhashSpec(width: Int, bitsPerDigit: Int): Unit = {
    val p = Prop.forAll(wildShinglesGen) { sh =>
      val got = evalOn(sh, e => graft.functions.Simhash(e, width)).asInstanceOf[Long]
      val n = sh.length // NULL shingles count toward n, never toward a bit
      val expect = (0 until width).map { j =>
        val d = j / bitsPerDigit
        val cnt = sh.count { s =>
          s != null &&
            ((Integer.parseInt(md5Hex(s).substring(d, d + 1), 16) >> (j % bitsPerDigit)) & 1) == 1
        }
        if (cnt * 2 >= n) 1L << j else 0L
      }.sum
      got == expect && (got >> width) == 0L
    }
    check(s"simhash$width", p, minTests = 50)
    val nullArray = Literal.create(null, ArrayType(StringType))
    assert(graft.functions.Simhash(nullArray, width).eval(null) == 0L)
  }

  test("Simhash60 equals the hex-digit majority specification") {
    checkSimhashSpec(60, bitsPerDigit = 4) // bit j%4 of hex digit j/4
  }

  test("simhash32 equals the hex-digit parity specification") {
    checkSimhashSpec(32, bitsPerDigit = 1) // bit 0 of hex digit j
  }

  test("simhash32 equals its composed aggregate/filter/md5 reference, evaluated by Spark") {
    import spark.implicits._
    // a batch of arrays per case: one Spark job checks 40 of them
    val p = Prop.forAll(Gen.listOfN(40, wildShinglesOrNullGen)) { rows =>
      spark.sparkContext.parallelize(rows.map(Tuple1(_)), 2).toDF("sh")
        .select(TextFunctions.simhash32(col("sh")), PropertiesSpec.simhash32Composed(col("sh")))
        .collect().forall(r => !r.isNullAt(0) && r.get(0) == r.get(1))
    }
    check("simhash32", p, minTests = 10)
  }
}

object PropertiesSpec {

  /** The composed form `TextFunctions.simhash32` had before it became the
    * native [[graft.functions.Simhash]]: bit j is set when count·2 ≥ n of
    * the shingles have an odd md5 hex digit j. It is the reference the
    * native kernel must reproduce — and the trap it replaced: the md5 sits
    * under two lambdas, so it runs 32 times per shingle. */
  def simhash32Composed(shingles: Column): Column = {
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    aggregate(
      sequence(lit(0), lit(31)), lit(0L),
      (acc, j) => acc + when(
        size(filter(shingles,
          s => md5(s).substr(j + lit(1), lit(1)).isin(oddHex: _*))) * 2 >= size(shingles),
        pow(lit(2.0), j).cast("long")).otherwise(lit(0L)))
  }
}
