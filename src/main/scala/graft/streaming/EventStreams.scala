package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.owned
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface. The reference has no streaming at all
  * (SURVEY §2.10) — this is the forward-looking half of the engine: the
  * same event-table queries (tumbling windows, sessionization) expressed
  * incrementally, so a 100 TB/day event feed is processed as it lands
  * instead of re-scanned.
  *
  * Batch/stream parity: `tumblingCounts` over a bounded frame equals the
  * batch q_tumbling aggregation; `Sessionize.run` equals q_sessions —
  * the specs assert this with MemoryStream fixtures.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionState(sessionCount: Long, eventCount: Long, lastTs: Long)

  final case class UserSessions(user_id: Long, sessions: Long, events_cnt: Long)

  /** Tumbling-window counts with a watermark: the streaming twin of the
    * batch hourly aggregation. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

  /** Sliding-window counts with a watermark: overlapping windows (each
    * event lands in width/slide windows). The batch twin (q_sliding)
    * assigns integral window indices win_idx = ts_ns div slide_ns − k,
    * which equals window.start / slide for these windows. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

  /** Gap-based sessionization via mapGroupsWithState — the engine's
    * KeyValueGroupedDataset custom-state path. Gap in ns to mirror the
    * batch query's integral arithmetic. */
  object Sessionize {
    val GapNs: Long = 1800L * 1000000000L

    def updateState(userId: Long, rows: Iterator[Event],
                    state: GroupState[SessionState]): UserSessions = {
      var st = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
      // deterministic order within the micro-batch
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val tsNs = e.ts.getTime * 1000000L
        val newSession = st.lastTs == Long.MinValue || tsNs - st.lastTs > GapNs
        st = SessionState(st.sessionCount + (if (newSession) 1 else 0),
          st.eventCount + 1, tsNs)
      }
      state.update(st)
      UserSessions(userId, st.sessionCount, st.eventCount)
    }

    def run(events: Dataset[Event]): Dataset[UserSessions] = {
      val spark = events.sparkSession
      import spark.implicits._
      events.groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(updateState)
    }
  }

  final case class FunnelState(tSignup: Long, tClick: Long, tPurchase: Long)

  final case class FunnelHit(user_id: Long, t_signup_ms: Long,
                             t_click_ms: Long, t_purchase_ms: Long)

  /** Streaming funnel state machine via flatMapGroupsWithState — the
    * engine's custom-multi-stage-state path (sessionization is a single
    * counter; this carries an ordered stage vector). Per user: earliest
    * signup, then earliest click at-or-after it, then earliest purchase
    * at-or-after that; emits EXACTLY ONE row per user the moment the
    * third stage completes (Update mode, empty iterator otherwise), so
    * downstream sees completions as they happen instead of re-scanning
    * the feed. Events are time-sorted within each micro-batch; with
    * batches fed in event-time order the result equals the batch funnel
    * (q_funnel semantics; StreamingSpec asserts parity on a split
    * fixture). State per user is three longs — O(users), not O(events).
    */
  object Funnel {
    private val Unset = Long.MinValue

    def updateState(userId: Long, rows: Iterator[Event],
                    state: GroupState[FunnelState]): Iterator[FunnelHit] = {
      var st = state.getOption.getOrElse(FunnelState(Unset, Unset, Unset))
      val completedBefore = st.tPurchase != Unset
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        e.event_type match {
          case "signup" if st.tSignup == Unset =>
            st = st.copy(tSignup = t)
          case "click" if st.tSignup != Unset && st.tClick == Unset && t >= st.tSignup =>
            st = st.copy(tClick = t)
          case "purchase" if st.tClick != Unset && st.tPurchase == Unset && t >= st.tClick =>
            st = st.copy(tPurchase = t)
          case _ => ()
        }
      }
      state.update(st)
      if (!completedBefore && st.tPurchase != Unset)
        Iterator(FunnelHit(userId, st.tSignup, st.tClick, st.tPurchase))
      else Iterator.empty
    }

    def run(events: Dataset[Event]): Dataset[FunnelHit] = {
      val spark = events.sparkSession
      import spark.implicits._
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateState)
    }
  }

  /** Streaming upsert sink: maintain a "latest value per user" table as
    * bucket-partitioned parquet via foreachBatch — the keyed-state sink
    * pattern when no transactional table format is available. Each
    * micro-batch (1) reduces to its per-user latest row, (2) reads back
    * ONLY the buckets it touches, (3) merges keep-newest, and (4)
    * dynamic-partition-overwrites exactly those buckets. Untouched
    * buckets are never read or rewritten (the spec pins this via file
    * mtimes), so per-batch IO is proportional to the batch's key
    * spread, not the table size — the property that keeps a continuously
    * updated 100 TB state table maintainable. The merge is idempotent
    * (max (ts, event_id) per user), so batch replay after a restart
    * converges to the same table. */
  object UpsertSink {
    def applyBatch(batch: DataFrame, path: String, numBuckets: Int): Unit = {
      if (batch.isEmpty) return
      val spark = batch.sparkSession
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val latest = batch
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
        .withColumn("bucket", pmod(col("user_id"), lit(numBuckets.toLong)))
      // bounded driver list: ≤ numBuckets scalars
      val touched = latest.select(col("bucket")).distinct()
        .collect().map(_.getLong(0))
      // "table exists" = the dir already holds bucket partitions (a bare
      // pre-created temp dir would break parquet schema inference)
      val hasData = {
        val d = new java.io.File(path)
        d.exists() && d.listFiles() != null &&
          d.listFiles().exists(_.getName.startsWith("bucket="))
      }
      val existing =
        if (hasData)
          spark.read.parquet(path)
            .withColumn("bucket", col("bucket").cast("long"))
            .filter(col("bucket").isin(touched: _*))
            .select(latest.columns.map(col): _*)
        else latest.limit(0)
      // materialize BEFORE the write: the merge reads the same files the
      // dynamic overwrite is about to replace — a lazy plan would race
      // its own deletes
      owned { o =>
        val merged = o(latest.unionByName(existing)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
          .localCheckpoint())
        val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try merged.write.mode("overwrite").partitionBy("bucket").parquet(path)
        finally prev match {
          case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
    }

    def run(events: Dataset[Event], path: String, numBuckets: Int,
            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
      events.writeStream
        .foreachBatch((b: Dataset[Event], _: Long) =>
          applyBatch(b.toDF(), path, numBuckets))
        .option("checkpointLocation", checkpoint)
        .start()
  }

  /** Streaming distinct-count sketch: per tumbling window, the m = 64
    * deterministic-HLL registers (max ρ per bucket — see
    * [[graft.functions.Sketches.hllDistinct]]) maintained as a plain
    * watermarked streaming aggregation. max is associative and
    * commutative, so micro-batch partials merge losslessly in the state
    * store, and per-window state is BOUNDED AT 64 ROWS regardless of
    * stream cardinality — the property that makes distinct-user
    * counting viable on an unbounded stream where exact
    * dropDuplicates state would grow with the key universe. Finalize
    * with [[graft.functions.Sketches.hllFinalize]] (batch, identical
    * arithmetic — StreamingSpec pins streaming == batch per window). */
  def hllWindowed(events: DataFrame, keyCol: String,
                  window_ : String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"),
        graft.functions.Sketches.hllBucket(col(keyCol)).as("b"),
        graft.functions.Sketches.hllRho(col(keyCol)).as("rho"))
      .groupBy(window(col("ts"), window_), col("b"))
      .agg(max(col("rho")).as("r"))

  /** Streaming exact dedup: first occurrence of each key wins, duplicate
    * arrivals within the watermark bound are dropped, and key state is
    * evicted once the watermark passes it — the incremental twin of
    * Dedup.exactClusters for a feed that must be deduped as it lands
    * (the state-size bound is what makes this viable on an unbounded
    * stream; unbounded dropDuplicates state would grow forever). Key
    * defaults to the event id; pass e.g. a content hash column for
    * content dedup. */
  def dedupStream(events: DataFrame, watermark: String = "2 hours",
                  keyCols: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class AnomalyState(day: Long, cnt: Long, n: Long, s: Long, ss: Long)
  final case class AnomalyHit(event_type: String, day: Long, cnt: Long,
                              is_anomaly: Int)

  /** Streaming per-type daily-volume anomaly alerts: a
    * flatMapGroupsWithState machine keyed by event_type that counts the
    * current event-time day and, when the stream's event time crosses
    * into the next day, FINALIZES the closed day against the exact
    * integer 2σ rule the batch q_anomaly_days uses —
    * (x·n − S)² > 4·(n·Σx² − S²) over the finalized-day history — then
    * folds it into that history. State per key is five longs
    * (current day+count, history n/Σ/Σ²) however long the stream runs;
    * alerts emit the moment a day closes, not on a scan. Late rows for
    * an already-closed day are dropped (the watermark analog; documented
    * demo semantics). With batches fed in event-time order the flags
    * equal the batch rule — StreamingSpec pins a planted spike. */
  object AnomalyAlerts {
    def updateState(eventType: String, rows: Iterator[Event],
                    state: GroupState[AnomalyState]): Iterator[AnomalyHit] = {
      var st = state.getOption.orNull
      val out = Seq.newBuilder[AnomalyHit]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val day = e.ts.getTime / 86400000L
        if (st == null) st = AnomalyState(day, 1L, 0L, 0L, 0L)
        else if (day == st.day) st = st.copy(cnt = st.cnt + 1)
        else if (day > st.day) {
          val x = st.cnt
          val flag =
            if (st.n >= 2) {
              val lhs = x * st.n - st.s
              if (lhs * lhs > 4L * (st.n * st.ss - st.s * st.s)) 1 else 0
            } else 0
          out += AnomalyHit(eventType, st.day, x, flag)
          st = AnomalyState(day, 1L,
            st.n + 1, st.s + x, st.ss + x * x)
        } // day < st.day: late row for a closed day — dropped
      }
      state.update(st)
      out.result().iterator
    }

    def run(events: Dataset[Event]): Dataset[AnomalyHit] = {
      val spark = events.sparkSession
      import spark.implicits._
      events.groupByKey(_.event_type)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateState)
    }
  }

  final case class EwmaState(day: Long, daySum: Long, ewma: Long, hasEwma: Boolean)
  final case class EwmaPoint(event_type: String, day: Long, v: Long, ewma: Long)

  /** Streaming per-type daily-revenue EWMA: the stateful twin of the
    * batch q_ewma_daily fold. A flatMapGroupsWithState machine keyed by
    * event_type accumulates the current event-time day's cents; when
    * the stream crosses into the next day it FINALIZES the closed day
    * with the identical integer recurrence e ← (7e + v) div 8 (first
    * day: e = v) and emits the point. State per key is three longs + a
    * flag however long the stream runs; late rows for a closed day are
    * dropped (the [[AnomalyAlerts]] demo-semantics contract). With
    * batches fed in event-time order the emitted (day, v, ewma) rows
    * equal the batch fold — StreamingSpec asserts parity on the REAL
    * events table. */
  object EwmaDaily {
    def updateState(eventType: String, rows: Iterator[Event],
                    state: GroupState[EwmaState]): Iterator[EwmaPoint] = {
      var st = state.getOption.orNull
      val out = Seq.newBuilder[EwmaPoint]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val day = e.ts.getTime / 86400000L
        val cents = math.floor(e.value * 100).toLong
        if (st == null) st = EwmaState(day, cents, 0L, hasEwma = false)
        else if (day == st.day) st = st.copy(daySum = st.daySum + cents)
        else if (day > st.day) {
          val ew = if (!st.hasEwma) st.daySum else (7 * st.ewma + st.daySum) / 8
          out += EwmaPoint(eventType, st.day, st.daySum, ew)
          st = EwmaState(day, cents, ew, hasEwma = true)
        } // day < st.day: late row for a closed day — dropped
      }
      state.update(st)
      out.result().iterator
    }

    def run(events: Dataset[Event]): Dataset[EwmaPoint] = {
      val spark = events.sparkSession
      import spark.implicits._
      events.groupByKey(_.event_type)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateState)
    }
  }

  /** Streaming exact daily-active-users: dedup each (user, day) within
    * the watermark, then count per daily window — the chained
    * stateful-operator form (dedup → windowed agg) Spark 4 supports
    * under a shared event-time watermark. State is one row per DISTINCT
    * (user, day) inside the watermark horizon (evicted as the watermark
    * passes), not one per event — the property that makes exact DAU
    * viable on an unbounded feed; the rolling 7-day view is the batch
    * q_trailing_dau over the sink. */
  def dailyActiveUsers(events: DataFrame,
                       watermark: String = "25 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("day", to_date(col("ts")))
      .dropDuplicatesWithinWatermark(Seq("user_id", "day"))
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("dau"))

  /** Watermarked stream-stream interval join: attribute each purchase
    * to the same user's clicks in the preceding `window` (click_ts ∈
    * [purchase_ts − window, purchase_ts]). Both inputs carry watermarks
    * AND the join condition bounds event time on both sides — exactly
    * the two conditions Spark needs to evict buffered join state, which
    * is what keeps an unbounded×unbounded join runnable: state per side
    * is O(watermark-window of events), not O(stream). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      window_ : String = "1 hour",
                      watermark: String = "2 hours"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("user_id").as("click_user"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("user_id").as("purchase_user"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
        col("click_user") === col("purchase_user") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window_") &&
          col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("purchase_user").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Left-outer watermarked stream-stream join: every click, paired with
    * the same user's purchase in the FOLLOWING `window_` if one arrives
    * (purchase_ts ∈ [click_ts, click_ts + window_]), or null columns if
    * none does — the "which clicks never converted" feed. The
    * null-extended row for an unmatched click is emitted only once the
    * global watermark passes click_ts + window_ (Spark must prove no
    * matching purchase can still arrive before declaring the click
    * unconverted), so the unmatched feed lags the watermark by design.
    * State bound is the same as [[attributionJoin]]: O(watermark-window
    * of events) per side, never O(stream). Works identically on bounded
    * frames (plain left-outer range join). */
  def attributionJoinLeftOuter(clicks: DataFrame, purchases: DataFrame,
                               window_ : String = "1 hour",
                               watermark: String = "2 hours"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("user_id").as("click_user"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("user_id").as("purchase_user"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
        col("click_user") === col("purchase_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $window_"),
        "left_outer")
      .select(col("click_id"), col("click_user").as("user_id"),
        col("click_ts"), col("purchase_id"), col("purchase_ts"))
  }

  /** Streaming incremental dedup: a continuously-arriving document
    * stream probed against the PERSISTED MinHash signature index
    * ([[graft.dedup.Dedup.writeSignatureIndex]]) via stream-static
    * equi-joins — the continuous-ingestion form of incremental dedup.
    * The standing corpus is never re-signed and never self-joined: the
    * static sides are ordinary parquet scans joined per micro-batch,
    * and the stream side computes signatures only for its own rows
    * (one pass — the shingle set rides along to the verify join, so the
    * md5 kernel runs once per document, not once per use).
    *
    * Output (new_id, idx_id, jac_e6): which indexed documents each
    * arriving document duplicates — same contract as the batch
    * [[graft.dedup.Dedup.incrementalDupPairs]], which the spec asserts.
    * Streaming state is ONLY the pair-dedup set (a (new_id, idx_id)
    * key per detected duplicate — bounded by the increment's dup count,
    * not by the corpus). Works identically on a bounded frame. */
  def dedupAgainstIndex(newDocs: DataFrame, indexPath: String,
                        shingleLen: Int = 8, numHashes: Int = 16,
                        bands: Int = 4, threshold: Double = 0.3): DataFrame = {
    import graft.text.TextFunctions._
    val spark = newDocs.sparkSession
    val rpb = numHashes / bands
    // bandHashes binds the signature once per row — essential here: a
    // streaming frame can't be persisted, so the naive band lambda would
    // recompute the minhash per band in every micro-batch
    val banded = newDocs.select(col("doc_id").as("new_id"),
        shingleSet(col("text"), shingleLen).as("shn"))
      .withColumn("sig", minhashSignature(col("shn"), numHashes))
      .select(col("new_id"), col("shn"),
        posexplode(graft.dedup.Dedup.bandHashes(col("sig"), bands, rpb))
          .as(Seq("band", "bv")))
    val buckets = newDocs.sparkSession.read.parquet(s"$indexPath/buckets")
    val shingles = spark.read.parquet(s"$indexPath/shingles")
      .select(col("doc_id").as("idx_id"), col("sh").as("shi"))
    banded.join(buckets, Seq("band", "bv"))
      .select(col("new_id"), col("shn"), col("doc_id").as("idx_id"))
      .dropDuplicates("new_id", "idx_id")
      .join(shingles, Seq("idx_id"))
      .withColumn("jac", jaccard(col("shn"), col("shi")))
      .filter(col("jac") >= threshold)
      .select(col("new_id"), col("idx_id"),
        graft.sql.Exact.e6(col("jac")).as("jac_e6"))
  }

  /** Streaming corpus ingest gate: the continuous-ingestion form of the
    * batch preprocessing front door — arriving documents are (1)
    * content-hash deduplicated within the watermark window
    * (`dropDuplicatesWithinWatermark` keeps state bounded by the
    * watermark, not the stream), then (2) stamped with the Gopher rule
    * panel ([[graft.pipeline.Corpus.gopherRules]] thresholds — a pure
    * codegen'd projection, so it is streaming-safe by construction;
    * StreamingSpec asserts flag parity with the batch panel). Survivors
    * carry per-rule flags + `pass` so a router can fork train/quarantine
    * sinks off one gated stream. Input: (doc_id, ts, text). */
  def ingestGate(docs: DataFrame, watermark: String = "2 hours",
                 stopWords: Seq[String] = Seq("the", "a", "of", "to", "and"),
                 minWords: Long = 10L, maxWords: Long = 1000L,
                 minWlenE6: Long = 3000000L, maxWlenE6: Long = 10000000L,
                 minStopHits: Long = 2L): DataFrame = {
    val deduped = docs
      .withColumn("content_h", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("content_h"))
    val tok = graft.text.TextFunctions.tokens(col("text"))
    val flag = (c: Column) => when(c, lit(1L)).otherwise(lit(0L))
    deduped.select(col("doc_id"), col("ts"),
        size(tok).cast("long").as("n_words"),
        aggregate(tok, lit(0L), (acc, x) => acc + length(x).cast("long")).as("sum_len"),
        size(array_intersect(array_distinct(tok),
          array(stopWords.map(lit): _*))).cast("long").as("stop_hits"))
      .withColumn("mean_wlen_e6",
        ((col("sum_len") * 1000000L - pmod(col("sum_len") * 1000000L,
          greatest(col("n_words"), lit(1L)))) / greatest(col("n_words"), lit(1L)))
          .cast("long"))
      .select(col("doc_id"), col("ts"), col("n_words"), col("mean_wlen_e6"),
        col("stop_hits"),
        (flag(col("n_words").between(minWords, maxWords))
          * flag(col("mean_wlen_e6").between(minWlenE6, maxWlenE6))
          * flag(col("stop_hits") >= minStopHits)).as("pass"))
  }

  /** File-source → parquet-sink wiring: watch a directory of event
    * parquet drops, maintain the tumbling aggregate. */
  def streamDirectoryToParquet(spark: org.apache.spark.sql.SparkSession,
                               inDir: String, outDir: String,
                               checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val in = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
      .parquet(inDir)
    tumblingCounts(in).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
  }
}
