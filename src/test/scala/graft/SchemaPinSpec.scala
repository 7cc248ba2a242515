package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Pins the ENGINE-VISIBLE schema of every driver-generated testdata
  * table. This is the canary for Spark image drift: round 5 shipped with
  * 20 broken queries because the Spark 4 parquet reader silently changed
  * `events.ts` from the legacy BIGINT-nanos read to TIMESTAMP_NTZ and no
  * spec opened the real files. If the runtime's parquet type mapping
  * shifts again, this suite — not a driver round — is what fails.
  *
  * Skips (rather than fails) only if the testdata directory itself is
  * absent, so the suite stays runnable on a bare checkout.
  */
class SchemaPinSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def have = new java.io.File(dir).isDirectory

  private def raw(name: String) = spark.read.parquet(s"$dir/$name.parquet")

  /** The table as queries read it: through [[Tables]] and its
    * per-session resolution ([[Tables.parquet]]). */
  private val served: Map[String, Tables => DataFrame] = Map(
    "region" -> (_.region), "nation" -> (_.nation), "customer" -> (_.customer),
    "supplier" -> (_.supplier), "part" -> (_.part), "orders" -> (_.orders),
    "lineitem" -> (_.lineitem), "events" -> (_.events), "documents" -> (_.documents),
    "embeddings" -> (_.embeddings))

  /** Pins the raw read of `name` to `expected`, and what [[Tables]]
    * serves, on a session's first read (a resolution) and its second (a
    * reuse), to `expected` with `events.ts` normalized to BIGINT. */
  private def pin(name: String, expected: (String, DataType)*): Unit = {
    def names(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    test(s"raw parquet schema: $name") {
      assume(have, s"$dir not present")
      assert(names(raw(name)) === expected.toSeq,
        s"engine-visible schema of $name.parquet drifted — audit every query reading it")
    }
    test(s"Tables-served schema, first and second read: $name") {
      assume(have, s"$dir not present")
      val want = expected.map {
        case ("ts", _) if name == "events" => "ts" -> LongType
        case f => f
      }
      // a new session, so that its first read resolves the table afresh
      val tables = Tables(spark.newSession(), dir)
      Seq("first", "second").foreach { read =>
        assert(names(served(name)(tables)) === want,
          s"Tables serves $name with another schema on the $read read")
      }
    }
  }

  pin("region", "r_regionkey" -> IntegerType, "r_name" -> StringType)
  pin("nation", "n_nationkey" -> IntegerType, "n_name" -> StringType,
    "n_regionkey" -> IntegerType)
  pin("customer", "c_custkey" -> LongType, "c_name" -> StringType,
    "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
    "c_mktsegment" -> StringType)
  pin("supplier", "s_suppkey" -> LongType, "s_name" -> StringType,
    "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
  pin("part", "p_partkey" -> LongType, "p_name" -> StringType,
    "p_brand" -> StringType, "p_type" -> StringType,
    "p_size" -> IntegerType, "p_retailprice" -> DoubleType)
  pin("orders", "o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType)
  pin("lineitem", "l_orderkey" -> LongType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
    "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> TimestampNTZType)
  // THE column that broke round 5: parquet timestamp (no tz) must surface
  // as TIMESTAMP_NTZ on Spark 4 (the legacy nanosAsLong BIGINT read is
  // dead). If this row fails, Tables.eventsNormalized needs a new
  // conversion arm.
  pin("events", "event_id" -> LongType, "ts" -> TimestampNTZType,
    "user_id" -> LongType, "event_type" -> StringType,
    "value" -> DoubleType, "props" -> StringType)
  pin("documents", "doc_id" -> LongType, "text" -> StringType,
    "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
  pin("embeddings", "vec_id" -> LongType,
    "embedding" -> ArrayType(FloatType, containsNull = true),
    "label" -> IntegerType)

  test("Tables.events normalizes ts to BIGINT epoch-micros") {
    assume(have, s"$dir not present")
    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType === LongType)
    // spot-check the value range: epoch-µs for 2020..2040 is ~1.58e15 to
    // ~2.21e15; an accidental ns (1000×) or ms (÷1000) slip leaves it.
    val Array(lo, hi) = ev.selectExpr("min(ts)", "max(ts)").head().toSeq
      .map(_.asInstanceOf[Long]).toArray
    assert(lo > 1_200_000_000_000_000L && hi < 2_500_000_000_000_000L,
      s"events.ts range [$lo,$hi] is not epoch-micros scale")
  }

  test("Tables.events epoch-micros are session-timezone-INDEPENDENT") {
    // The NTZ wall clock must map to the same integers under any session
    // zone — a conversion routed through TIMESTAMP would shift every
    // window boundary by the zone offset and this asserts it cannot.
    assume(have, s"$dir not present")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    val utc =
      try Tables(spark, dir).events.selectExpr("min(ts)", "max(ts)").head()
      finally spark.conf.set("spark.sql.session.timeZone", prev)
    val ny =
      try {
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        Tables(spark, dir).events.selectExpr("min(ts)", "max(ts)").head()
      } finally spark.conf.set("spark.sql.session.timeZone", prev)
    assert(utc === ny)
  }
}
