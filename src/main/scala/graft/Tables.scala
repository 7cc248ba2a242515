package graft

import java.lang.ref.WeakReference

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Typed accessors for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md). All queries take a scale-factor directory so the
  * same plan runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1+
  * (bench) — and, unchanged, against a 100 TB warehouse directory.
  * Every table is read through [[Tables.parquet]], so a session resolves
  * each table once, not once per query.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.parquet(spark, s"$dir/$name.parquet")

  /** `events.ts` is a no-timezone parquet timestamp (µs in the current
    * testdata). Spark 4 removed the effect of the legacy
    * `spark.sql.legacy.parquet.nanosAsLong` BIGINT read path (the conf is
    * still accepted but silently ignored), so the column surfaces as
    * TIMESTAMP_NTZ at microsecond precision. Normalize it to BIGINT
    * epoch-MICROS explicitly: integral µs keep window/session arithmetic
    * exactly reproducible by the DuckDB oracle (`epoch_us`). The
    * conversion is wall-clock NTZ arithmetic (`timestampdiff` against the
    * NTZ epoch), so it is independent of the session timezone by
    * construction — SchemaPinSpec asserts both the dtype and the
    * zone-invariance, the two canaries for the read-path drift that went
    * unseen for a whole round behind a silent catch. */
  private def eventsNormalized: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case TimestampNTZType =>
        // timestampdiff over two NTZ values is pure wall-clock arithmetic
        // — no session-timezone dependency at all (a cast through
        // TIMESTAMP would silently shift every window boundary under a
        // non-UTC session; SchemaPinSpec asserts the invariance)
        raw.withColumn("ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"))
      case LongType =>
        // legacy image where nanosAsLong still worked: BIGINT epoch-nanos
        raw.withColumn("ts", expr("ts div 1000"))
      case other =>
        throw new IllegalStateException(
          s"events.ts read as unexpected type $other; expected " +
            "TIMESTAMP_NTZ (Spark 4) or BIGINT epoch-nanos (legacy read)")
    }
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events with `ts` as BIGINT epoch-MICROS (see [[eventsNormalized]]). */
  def events: DataFrame     = eventsNormalized
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** `spark.read.parquet(path)`, resolved once per session.
    *
    * A plain read resolves the table on every call: it lists the leaf
    * files and then infers the schema from a parquet footer, which costs
    * one Spark job (88–112 ms warm for sf0.01 `lineitem` on 4 CPUs).
    * This call caches the resolution's metadata per (session, qualified
    * path): the data and partition schemas, the file format, the read
    * options and the leaf-file listing it was inferred from. Rows and
    * results are never cached.
    *
    * Every call lists the table's leaf files, as a plain read does. The
    * cached resolution is reused only when that listing (each file's
    * path, length and modification time) and the session's parquet
    * settings (every `spark.sql.*` key naming parquet) both equal the
    * ones it was made under; the frame is then a new relation over the
    * fresh listing, with fresh attribute ids, built without a job.
    * Otherwise the call reads as `spark.read.parquet` does and replaces
    * the entry. So a rewritten or grown table, or a changed parquet
    * setting, invalidates the entry, and another session (a
    * `newSession()` too) resolves its own. The cache holds at most
    * [[MaxEntries]] entries, least recently used out first; an entry
    * holds its session only weakly, so a dropped session is not kept
    * reachable. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val key = new Key(new WeakReference(spark),
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString)
    val settings = parquetSettings(spark)
    val reused = lookup(key).filter(_.settings == settings).flatMap { e =>
      val index = new InMemoryFileIndex(spark, e.rootPaths, e.options, None)
      if (listing(index) != e.listing) None
      else Some(spark.baseRelationToDataFrame(HadoopFsRelation(index, e.partitionSchema,
        e.dataSchema, None, e.format, e.options)(spark)))
    }
    reused.getOrElse {
      val df = spark.read.parquet(path)
      df.queryExecution.analyzed.collectFirst {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
      }.foreach(r => r.location match {
        case index: InMemoryFileIndex => cache.synchronized {
          cache.put(key, Entry(index.rootPaths, r.options, r.partitionSchema, r.dataSchema,
            r.fileFormat, listing(index), settings))
        }
        case _ => // a streaming sink's output, listed from its log: not cached
      })
      df
    }
  }

  /** The most resolutions [[parquet]] keeps, across all sessions. */
  val MaxEntries = 64

  /** A session (held weakly) and a qualified path. Sessions compare by
    * identity; a key whose session is gone equals no other key, so its
    * entry only waits for eviction. */
  private final class Key(val session: WeakReference[SparkSession], val path: String) {
    private val hash = System.identityHashCode(session.get) * 31 + path.hashCode
    override def hashCode: Int = hash
    override def equals(o: Any): Boolean = o match {
      case k: Key => path == k.path && { val s = session.get; s != null && (s eq k.session.get) }
      case _ => false
    }
  }

  /** One resolution, free of any reference to its session. */
  private final case class Entry(rootPaths: Seq[Path], options: Map[String, String],
      partitionSchema: StructType, dataSchema: StructType, format: FileFormat,
      listing: Set[(String, Long, Long)], settings: Map[String, String])

  private val cache = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size > MaxEntries
  }

  private def lookup(key: Key): Option[Entry] = cache.synchronized(Option(cache.get(key)))

  private def listing(index: InMemoryFileIndex): Set[(String, Long, Long)] =
    index.allFiles().iterator.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet

  private def parquetSettings(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") && k.toLowerCase(java.util.Locale.ROOT).contains("parquet")
    }
}
