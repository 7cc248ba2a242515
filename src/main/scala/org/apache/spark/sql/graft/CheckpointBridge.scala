package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DoubleType, NumericType}
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

/** The one materialization barrier of graft's iterative and staged
  * plans: [[materialize]] eagerly checkpoints a frame, declares its
  * layout and measured size, and can fuse a metric into the same job.
  * [[owned]] is the scope that owns such frames: what its body hands to
  * the [[Owner]] is released when the block exits, save the RDDs the
  * returned frames still read, which pass to the caller. [[free]]
  * releases one frame, [[sizeOf]] reads its size, and [[drainListeners]]
  * flushes the listener bus.
  */
object CheckpointBridge {

  /** How [[materialize]] lays out and plans a frame (contract table on
    * [[materialize]]). */
  sealed trait Layout
  /** Keep the layout the plan already produces; planned AQE-off. */
  case object Stats extends Layout
  /** hash(key) over `spark.sql.shuffle.partitions`, planned AQE-off:
    * per-round state of a fixpoint loop. */
  final case class Hash(key: String) extends Layout
  /** hash(key) over `spark.sql.shuffle.partitions`, planned adaptively:
    * one-shot prep of big frames (edge lists, token frames). */
  final case class AdaptiveHash(key: String) extends Layout

  /** What a fused metric measured during the materializing job. For a
    * BOOLEAN metric, `count` is the number of rows where it is true
    * (`sum` equals it, `max` is 1.0). For a numeric metric, `count` is
    * the number of non-null values and `sum`/`max` are over them. `max`
    * is -Infinity when nothing was counted. */
  final case class Tally(count: Long, sum: Double, max: Double)

  /** Rebind `df` onto a session that plans with AQE OFF. Under AQE a
    * round body pays one driver job per query-stage materialization
    * (measured 7 jobs/round on the pagerankConverged body: sums
    * shuffle, two join stages, the repartition, the dangling broadcast,
    * then the count). AQE buys nothing inside these round bodies: every
    * join input is a declared-partitioning LogicalRDD with measured
    * stats, so there are no runtime re-plan decisions left to make,
    * while each extra stage job is a driver scheduling round-trip that a
    * 1000-executor cluster pays in O(100 ms) units per round.
    *
    * SESSION-SCOPED: the input frame's logical plan is rebound onto a
    * fresh CLONED session whose conf (cloned too) has AQE off. Physical
    * planning reads the BOUND session's conf, so only this planning and
    * execution is non-adaptive. (A thread-local `SQLConf.withExistingConf`
    * clone does NOT work: measured on 4.1.2, executedPlan stays
    * AdaptiveSparkPlanExec even though SQLConf.get reads false inside the
    * scope.) A concurrent query on the caller's session plans adaptively
    * as configured, the caller's conf is never touched, and overlapping
    * fixpoints each get their own clone: nothing to restore, nothing to
    * race. cloneSession() copies SessionState (conf, catalog incl. temp
    * views, registry) and shares the SparkContext, so accumulators and
    * cached blocks behave as on the caller's session, and the returned
    * frame is always built against the CALLER's session. Per-round clone
    * cost is driver metadata only: 50 clones add ONE listener to the
    * shared LiveListenerBus total, so a 1000-round fixpoint leaks
    * nothing. Pinned by the two-thread test in CheckpointBridgeSpec. */
  private def aqeOffTwin(df: DataFrame): DataFrame = {
    val parent = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val clone = parent.cloneSession()
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    org.apache.spark.sql.classic.Dataset.ofRows(clone, df.queryExecution.logical)
  }

  /** Release the storage behind a frame that is never read again. A
    * CacheManager-cached frame (`.persist`/`.cache`) is only
    * `unpersist`-ed: its plan leaves may be checkpoints someone else
    * owns. Any other frame releases the raw persistent RDDs of its
    * [[LogicalRDD]] leaves, which `Dataset.unpersist` never touches (after
    * `df.localCheckpoint(); df.unpersist(true)`, `sc.getPersistentRDDs`
    * still holds the blocks). RDDs already at `StorageLevel.NONE` are
    * skipped. A free fires no job.
    *
    * Only for frames whose every checkpoint leaf the caller owns (a
    * `materialize` or `localCheckpoint` product, or a callee's result it
    * took over): a localCheckpoint has truncated lineage, so freed blocks
    * are unrecoverable, and a frame that merely reads someone else's
    * checkpoint would free that data too. Outside loops, prefer
    * [[owned]] to a hand-placed free.
    */
  def free(df: Dataset[_]): Unit = release(df, _ => true)

  /** [[free]] restricted to the leaf RDDs `mine` accepts. */
  private def release(df: Dataset[_], mine: org.apache.spark.rdd.RDD[_] => Boolean): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(false)
    else rddsOf(df).foreach { r =>
      if (mine(r) && r.getStorageLevel != StorageLevel.NONE) r.unpersist(false)
    }

  /** The RDDs behind `df`'s [[LogicalRDD]] leaves, subqueries included. */
  def rddsOf(df: Dataset[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd }

  /** The frames an [[owned]] block releases when it exits. */
  final class Owner private[CheckpointBridge] (private[CheckpointBridge] val floor: Int) {
    private[CheckpointBridge] var frames = List.empty[Dataset[_]]
    /** Take `df` over; it is returned unchanged. */
    def apply[T <: Dataset[_]](df: T): T = { frames ::= df; df }
  }

  /** Run `body` with an [[Owner]] and release every frame it took over
    * when the block exits, whether it returns or throws: a cached frame by
    * `unpersist`, any other by the persistent RDDs of its checkpoint
    * leaves that were created inside the block. So a frame that also
    * reads the caller's checkpoints (a callee's lazy result over the
    * caller's input) can be taken over without touching them. On return,
    * the RDDs that the returned frames ([[framesIn]] the result) still
    * read pass to the caller instead.
    *
    * {{{
    * def f(edges: DataFrame): DataFrame = owned { o =>
    *   val e = o(materialize(edges, AdaptiveHash("src")))
    *   val v = o(verticesOf(e).persist())
    *   step(e, v).localCheckpoint() // e and v are released here
    * }
    * }}}
    */
  def owned[T](body: Owner => T): T = {
    // RDD ids only grow: every RDD this block creates has a larger id
    val o = new Owner(org.apache.spark.SparkContext.getActive.fold(-1)(_.newRddId()))
    val out = try body(o) catch {
      case e: Throwable => releaseBut(o.frames, Nil, _.id > o.floor); throw e
    }
    releaseBut(o.frames, out, _.id > o.floor)
    out
  }

  /** Release `frames` like [[free]], sparing the leaf RDDs that `kept`
    * still reads and those `mine` rejects: the rule by which an [[owned]]
    * block lets go of what it took over, and a `graft.graph.Fixpoint`
    * round of the state it superseded. */
  def releaseBut(frames: Seq[Dataset[_]], kept: Any,
                 mine: org.apache.spark.rdd.RDD[_] => Boolean = _ => true): Unit = {
    val keep = framesIn(kept).flatMap(rddsOf).map(_.id).toSet
    frames.foreach(release(_, r => mine(r) && !keep(r.id)))
  }

  /** The frames in `x`: a frame, or the frames inside a tuple, an
    * `Option` or a `Seq`, nested to any depth. */
  def framesIn(x: Any): Seq[Dataset[_]] = x match {
    case d: Dataset[_] => Seq(d)
    case i: Iterable[_] => i.iterator.flatMap(framesIn).toSeq
    case p: Product => p.productIterator.flatMap(framesIn).toSeq
    case _ => Nil
  }

  private val MetricCol = "__graft_metric"

  /** Eagerly materialize `df` in ONE job, truncate its lineage and return
    * it as a declared [[LogicalRDD]] leaf on the caller's session.
    *
    * | layout              | planned  | declared partitioning | stats    | metric (at-least-once) |
    * |---------------------|----------|-----------------------|----------|------------------------|
    * | `Stats`             | AQE-off  | the physical plan's, with its ordering; Unknown when a metric is fused | measured | boolean: true rows; numeric: sum, max |
    * | `Hash(key)`         | AQE-off  | hash(key) over n      | measured | boolean: true rows; numeric: sum, max |
    * | `AdaptiveHash(key)` | adaptive | hash(key) over n      | measured | boolean: true rows; numeric: sum, max |
    *
    * `n` is `spark.sql.shuffle.partitions`; measured stats are the
    * frame's mem + disk block bytes.
    *
    * Partitioning: under AQE a plain `localCheckpoint` captures the
    * adaptive plan's pre-execution `outputPartitioning`, which is
    * Unknown, so every downstream keyed join or aggregation reshuffles
    * the frame although its rows are already hash-placed: one extra
    * vertex-frame shuffle per superstep. The hash layouts force the exact
    * layout first (`repartition(n, key)`, the explicit-count form AQE
    * never coalesces, so rows are bit-exactly pmod(murmur3(key), n)
    * placed) and declare it; the declaration is sound because the RDD
    * partitions ARE that exchange's output partitions. `Stats` skips the
    * repartition pass, saving one exchange of the frame per round, and
    * is the better choice for frames small enough that their joins
    * broadcast. `Stats` with a metric declares no partitioning: its
    * call sites' downstream plans (and job counts) were tuned against an
    * Unknown layout, and declaring one would change them.
    *
    * Adaptivity: `Stats` and `Hash` plan AQE-off (see [[aqeOffTwin]]),
    * so a fixpoint round costs one driver job. `AdaptiveHash` stays
    * adaptive because its callers feed it BIG one-shot frames whose
    * shuffles benefit from AQE coalescing and skew splits. Known trade,
    * accepted deliberately: a few ONE-SHOT `Stats` call sites feed it
    * data-sized frames (scc's round-0 remainder, kTruss's pair frame, the
    * matchings' window+self-join over the live edge set) and forgo AQE's
    * post-shuffle coalescing; their shuffles hash on high-cardinality
    * keys with no skew-join site AQE could split. A big frame that does
    * contain a skewable join belongs on `AdaptiveHash`.
    *
    * Measured stats: a bare LogicalRDD reports defaultSizeInBytes
    * ("huge"), which forbids broadcast planning forever, and because the
    * declared partitioning removes every exchange, AQE never gets a
    * shuffle stage to re-measure: a small iterated frame is stuck in
    * sort-merge joins (measured 1.4–3.2× on sf0.1 WCC). Plain
    * `localCheckpoint` is worse still: it PROPAGATES the pre-checkpoint
    * plan's estimated Statistics, so a fixpoint whose iterate references
    * itself k≥2 times per round compounds sizeInBytes as k^round, and by
    * ~15 supersteps of a 3-self-reference loop the driver burns minutes
    * in BigInteger.multiply inside SizeInBytesOnlyStatsPlanVisitor and
    * dies with "BigInteger would overflow supported range" (reproduced by
    * IndependentOracleSpec's many-round SCC tangle). Measured stats reset
    * the estimate to the frame's real byte size every round: correct,
    * and broadcast-friendly.
    *
    * Metric (the overload below): a BOOLEAN metric counts its true rows,
    * a numeric one sums and maxes its values ([[Tally]]), during the
    * materializing job itself, so a loop's convergence check costs no
    * second job. A metric that names a boolean or double input column is
    * read in place; any other expression rides as a synthetic
    * `__graft_metric` column that is dropped from the returned frame, so
    * the input must not have one. Retry contract: the accumulators are
    * at-least-once. A task retry can only re-add rows that exist, so
    * counts and sums of non-negative values can only be over-reported: a
    * loop may run one redundant round but never stops early, and a true
    * zero is reported as zero. max is idempotent. The metric is LOOP CONTROL only and must
    * never become query result data. */
  def materialize(df: DataFrame, layout: Layout): DataFrame =
    run(df, layout, None)._1

  /** [[materialize]] with a metric fused into the materializing job. */
  def materialize(df: DataFrame, layout: Layout, metric: Column): (DataFrame, Tally) =
    run(df, layout, Some(metric))

  private def run(df: DataFrame, layout: Layout,
                  metric: Option[Column]): (DataFrame, Tally) = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val n = spark.sessionState.conf.numShufflePartitions
    val (key, planned) = layout match {
      case Hash(k) => (Some(k), aqeOffTwin(df))
      case AdaptiveHash(k) => (Some(k), df)
      case Stats => (None, aqeOffTwin(df))
    }
    // (frame carrying the metric, metric ordinal, boolean count?, synthetic?)
    val (flagged, metricOrd, isCount, synthetic) = metric match {
      case None => (planned, None, false, false)
      case Some(m) =>
        require(!df.columns.contains(MetricCol),
          s"input already has a $MetricCol column: the metric would replace it " +
            "and the returned frame would lose caller data")
        val a = planned.select(m).queryExecution.analyzed.output.head
        val isCount = a.dataType match {
          case BooleanType => true
          case _: NumericType => false
          case t => throw new IllegalArgumentException(
            s"metric must be boolean or numeric, got $t")
        }
        val in = planned.queryExecution.analyzed.output
        val inPlace = in.indexWhere(_.exprId == a.exprId)
        if (inPlace >= 0 && (isCount || a.dataType == DoubleType))
          (planned, Some(inPlace), isCount, false)
        else (planned.withColumn(MetricCol, if (isCount) m else m.cast(DoubleType)),
          Some(in.size), isCount, true)
    }
    val base = key.fold(flagged)(k => flagged.repartition(n, col(k)))
    val output = base.queryExecution.analyzed.output
    val tally = new TallyAccumulator
    val rows = base.queryExecution.toRdd
    // Row copies mirror `Dataset.checkpoint`'s own implementation: the
    // physical rows are reused UnsafeRows and MUST be copied before caching.
    val rdd = metricOrd match {
      case None => rows.mapPartitions(_.map(_.copy()), preservesPartitioning = true)
      case Some(ord) =>
        spark.sparkContext.register(tally, "graft.metric")
        rows.mapPartitions({ it =>
          it.map { row =>
            if (!row.isNullAt(ord)) {
              if (!isCount) tally.add(row.getDouble(ord))
              else if (row.getBoolean(ord)) tally.add(1.0)
            }
            row.copy()
          }
        }, preservesPartitioning = true)
    }
    rdd.localCheckpoint()
    rdd.count() // the ONE materializing job; the metric is complete after it
    val (partitioning, ordering) = key match {
      case Some(k) =>
        (HashPartitioning(Seq(output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(s"no column $k in $output"))), n), Nil)
      case None if metric.isEmpty =>
        val exec = base.queryExecution.executedPlan
        (firstLeaf(exec.outputPartitioning), exec.outputOrdering)
      case None => (UnknownPartitioning(rdd.getNumPartitions), Nil)
    }
    val stats = blockBytes(rdd.id).map(b => Statistics(sizeInBytes = BigInt(b).max(1)))
    val declared = org.apache.spark.sql.classic.Dataset.ofRows(spark,
      new LogicalRDD(output, rdd, partitioning, ordering, false, None)(spark, stats, None))
    (if (synthetic) declared.drop(MetricCol) else declared, tally.value)
  }

  /** What `Dataset.localCheckpoint` declares for a multi-child layout. */
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }

  /** count / sum / max of the metric values one materializing job saw. */
  private final class TallyAccumulator
      extends org.apache.spark.util.AccumulatorV2[Double, Tally] {
    private var c = 0L
    private var s = 0.0
    private var m = Double.NegativeInfinity
    override def isZero: Boolean = c == 0L && s == 0.0 && m == Double.NegativeInfinity
    override def copy(): TallyAccumulator = {
      val t = new TallyAccumulator; t.c = c; t.s = s; t.m = m; t
    }
    override def reset(): Unit = { c = 0L; s = 0.0; m = Double.NegativeInfinity }
    override def add(v: Double): Unit = { c += 1; s += v; if (v > m) m = v }
    override def merge(o: org.apache.spark.util.AccumulatorV2[Double, Tally]): Unit =
      o match {
        case t: TallyAccumulator => c += t.c; s += t.s; if (t.m > m) m = t.m
        case _ => ()
      }
    override def value: Tally = Tally(c, s, m)
  }

  /** The materialized byte size of a checkpointed frame (mem + disk
    * blocks) — driver metadata, not a job. -1 when the frame's leaf is
    * not a materialized RDD. */
  def sizeOf(df: Dataset[_]): Long =
    df.queryExecution.analyzed.collectLeaves().collectFirst {
      case l: LogicalRDD => blockBytes(l.rdd.id).getOrElse(-1L)
    }.getOrElse(-1L)

  /** The mem + disk bytes of `rddId`'s blocks, None when it has none. Read
    * from the block manager master, which every block is reported to
    * before its task ends, so the sum is complete once the materializing
    * job returns; `SparkContext.getRDDStorageInfo` reads the app-status
    * store instead, which the asynchronous listener bus fills later. */
  private def blockBytes(rddId: Int): Option[Long] = {
    val sizes = org.apache.spark.SparkEnv.get.blockManager.master.getStorageStatus
      .flatMap(_.rddBlocks.collect {
        case (RDDBlockId(id, _), st) if id == rddId => st.memSize + st.diskSize
      })
    Option.when(sizes.nonEmpty)(sizes.sum)
  }

  /** Block until the listener bus has delivered all queued events —
    * needed by anything reading SparkListener-fed counters (job counts
    * are delivered asynchronously; a sleep is a race). private[spark],
    * hence exposed through this bridge package. */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
