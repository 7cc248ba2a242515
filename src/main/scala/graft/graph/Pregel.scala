package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge
import org.apache.spark.sql.graft.CheckpointBridge.{AdaptiveHash, Hash}
import org.apache.spark.storage.StorageLevel

/** Options for the BSP superstep loop.
  *
  * @param maxSupersteps   hard cap, mirrors giraph's max-superstep config
  * @param checkpointEvery truncate lineage every N supersteps. Iterative
  *                        DataFrame plans grow per iteration; without eager
  *                        checkpointing the optimizer re-analyzes an
  *                        exponentially growing tree (SURVEY §7.4 risk #1).
  */
final case class PregelOptions(
    maxSupersteps: Int = 50,
    checkpointEvery: Int = 6,
    /** When set, every `checkpointEvery` supersteps write a *reliable*,
      * restartable snapshot (`<dir>/step_<N>` parquet) instead of only
      * `localCheckpoint`-ing (which truncates lineage but dies with the
      * app). Fault tolerance per the reference's checkpoint machinery,
      * BspServiceWorker.java:1340-1460. */
    checkpointDir: Option[String] = None,
    /** With `checkpointDir`: resume from the latest `step_<N>` snapshot
      * instead of `vertices` — the reference's restart-on-failure,
      * BspServiceMaster.java:1225 (`restartFromCheckpoint`) /
      * :1118 (prepare checkpoint restart). No snapshot present → a
      * normal from-scratch run. */
    resume: Boolean = false,
    /** Superstep-output hook: called with (vertexFrame, superstep) after
      * each superstep — the reference's write-during-computation modes
      * (io/superstep_output, GiraphConstants DO_OUTPUT_DURING_COMPUTATION).
      * The frame is valid ONLY for the duration of the call: its backing
      * blocks are freed once the next superstep materializes (write/
      * aggregate inside the hook; do not retain the frame). */
    onSuperstep: (DataFrame, Int) => Unit = (_, _) => (),
    /** Pre-superstep hook (reference Computation.preSuperstep,
      * CORE/graph/Computation.java:78-84): called with the CURRENT vertex
      * frame and the superstep number before that superstep's messages
      * fly — symmetric to [[onSuperstep]]. */
    onBeforeSuperstep: (DataFrame, Int) => Unit = (_, _) => (),
    /** Named aggregator expressions (reference master/worker aggregators)
      * evaluated over the post-superstep vertex frame — one aggregation
      * job per superstep, scalars only on the driver. Values feed
      * [[aggregatorWriter]]. */
    aggregators: Map[String, Column] = Map.empty,
    /** AggregatorWriter (reference aggregators/AggregatorWriter.java +
      * TextAggregatorWriter): receives (superstep, name → value) after
      * every superstep when `aggregators` is non-empty. See
      * [[Pregel.textAggregatorWriter]] for the text-sink default. */
    aggregatorWriter: Option[(Int, Map[String, Any]) => Unit] = None)

/** Pregel-style Bulk-Synchronous-Parallel loop on DataFrames.
  *
  * Re-expresses the reference's superstep machinery
  * (giraph-core .../graph/GraphTaskManager.java:309-382 worker loop,
  * .../master/BspServiceMaster.java:1571-1741 master coordination) as a
  * driver-side loop over declarative Spark plans:
  *
  *  - "send messages along out-edges" = join of the active vertex frame
  *    with the edge frame on `id = src` (the shuffle IS the message
  *    routing; both sides are hash-partitioned on the join key, exactly
  *    Giraph's id-hash worker assignment,
  *    .../partition/HashPartitionerFactory.java:31-37);
  *  - the MessageCombiner (.../combiner/MessageCombiner.java:32-47) =
  *    `groupBy(id).agg(combine)` — Catalyst's HashAggregate already
  *    performs the sender-side (partial) + receiver-side (final) split;
  *  - `voteToHalt`/wake-on-message (.../graph/Vertex.java:85,184) = the
  *    boolean `active` column maintained by the vertex program; global
  *    termination = zero active vertices (BspServiceMaster.java:1681-1684);
  *  - checkpointing (.../worker/BspServiceWorker.java:1340-1460) =
  *    `localCheckpoint` cadence (also mandatory here to cut lineage);
  *  - the superstep loop = an instance of [[Fixpoint]], given the
  *    superstep body, a barrier (hash(id) checkpoint or parquet snapshot)
  *    and a continue predicate that runs the hooks;
  *  - the out-of-core engine (giraph-core ooc/, ~7k LoC) = persisting the
  *    caller's vertex frame MEMORY_AND_DISK: Spark spills natively.
  *
  * Scale posture: per superstep the only driver-side data is the active
  * count (a scalar) — vertex/edge/message frames never leave the cluster.
  * Edges are shuffled once to their `src` hash partition and reused by
  * every superstep's join, so each iteration shuffles only the (combined)
  * message frame.
  */
object Pregel {

  /** Run a BSP loop.
    *
    * @param vertices   (id BIGINT, ..state.., active BOOLEAN)
    * @param edges      (src BIGINT, dst BIGINT, ..attrs..); names must not
    *                   collide with vertex state columns
    * @param sendMsg    active-vertices ⋈ edges (all vertex cols + edge cols)
    *                   → message frame with columns (id, msg); `id` is the
    *                   destination vertex
    * @param combineMsg aggregate over `msg` applied per destination, e.g.
    *                   `min(col("msg"))` — the MessageCombiner
    * @param vprog      (vertices, combinedMsgs(id, msg)) → new vertex frame
    *                   with the same schema incl. a fresh `active` column
    * @return the converged vertex frame; it and its checkpoint are the caller's
    */
  def run(
      vertices: DataFrame,
      edges: DataFrame,
      sendMsg: DataFrame => DataFrame,
      combineMsg: Column,
      vprog: (DataFrame, DataFrame) => DataFrame,
      opts: PregelOptions = PregelOptions()): DataFrame = CheckpointBridge.owned { o =>
    val spark = vertices.sparkSession
    // Declared-partitioning checkpoints (CheckpointBridge): under AQE a
    // plain localCheckpoint/persist loses its partitioning (the adaptive
    // plan reports Unknown pre-execution), which silently reshuffles the
    // edge AND vertex frames at every superstep join. The explicit-count
    // layout is materialized once and DECLARED, so the id=src join and
    // the vprog join are exchange-free on these sides — the one-shuffle-
    // per-superstep (combined messages only) contract, enforced by the
    // CheckpointBridgeSpec plan assertion.
    val e = o(CheckpointBridge.materialize(edges.toDF(), AdaptiveHash("src")))

    val resumed = resumePoint(spark, opts)
    val init = resumed.map(_._2).getOrElse(vertices).persist(StorageLevel.MEMORY_AND_DISK)
    val active = init.filter(col("active")).count()
    Fixpoint.run(init, materialize(opts, Some(col("active"))),
        opts.maxSupersteps, start = Some(Fixpoint.counted(active)),
        firstRound = resumed.map(_._1 + 1).getOrElse(0),
        continue = (r: Fixpoint.Round[DataFrame]) => {
          afterSuperstep(r, opts); r.tally.count > 0
        }) { (verts, step, _) =>
      opts.onBeforeSuperstep(verts, step)
      // the barrier is an eager checkpoint: it materializes AND truncates
      // the logical plan; without it the plan tree grows exponentially
      // with the superstep count (each step references the previous frame
      // 2-3 times) and analysis alone OOMs (SURVEY §7.4 risk #1). The
      // active-count rides the materialization job (fused accumulator):
      // one driver barrier per superstep, not two.
      vprog(verts, sendMsg(verts.filter(col("active")).join(e, col("id") === col("src")))
        .groupBy("id").agg(combineMsg.as("msg")))
    }._1
  }

  /** [[run]] with NO MessageCombiner — the reference's default mode:
    * when no combiner is registered, `Computation.compute(vertex,
    * messages)` receives the RAW message iterable
    * (CORE/graph/ComputeCallable.java:279-340). Here `vprog` receives
    * the combined frame with `msg` as an ARRAY of all messages sent to
    * the vertex this superstep, in ARBITRARY order (Giraph's iterable
    * is equally unordered — programs must be order-insensitive, or
    * sort/aggregate the array themselves with `sort_array`/
    * `aggregate`).
    *
    * Memory contract (same as the reference without a combiner): every
    * message to one vertex materializes in that vertex's row, so the
    * per-row bound is max-in-degree × message size. At warehouse scale
    * prefer a real combiner whenever the program's reduction is
    * associative — this mode exists for the computations that genuinely
    * need the full list (e.g. the reference's VerifyMessage). The
    * `groupBy(id).agg(collect_list)` still map-side PARTIALLY collects
    * per sender partition, so the shuffle moves each message once. */
  def runMessageList(
      vertices: DataFrame,
      edges: DataFrame,
      sendMsg: DataFrame => DataFrame,
      vprog: (DataFrame, DataFrame) => DataFrame,
      opts: PregelOptions = PregelOptions()): DataFrame =
    run(vertices, edges, sendMsg, collect_list(col("msg")), vprog, opts)

  /** Fixed-iteration variant with a per-iteration driver hook ("master
    * compute", giraph-core .../master/MasterCompute.java:49-294): `master`
    * sees the superstep number and the current vertex frame and may halt
    * early by returning false (e.g. on a collected convergence aggregate —
    * scalars only, never per-vertex data).
    */
  def iterate(
      vertices: DataFrame,
      iterations: Int,
      opts: PregelOptions = PregelOptions())(
      step: (DataFrame, Int) => DataFrame,
      master: (DataFrame, Int) => Boolean = (_, _) => true): DataFrame = {
    val resumed = resumePoint(vertices.sparkSession, opts)
    val init = resumed.map(_._2).getOrElse(vertices).persist(StorageLevel.MEMORY_AND_DISK)
    init.count()
    Fixpoint.run(init, materialize(opts, None), iterations,
        firstRound = resumed.map(_._1 + 1).getOrElse(0),
        continue = (r: Fixpoint.Round[DataFrame]) => {
          afterSuperstep(r, opts); master(r.state, r.index)
        }) { (verts, i, _) =>
      opts.onBeforeSuperstep(verts, i)
      step(verts, i)
    }._1
  }

  /** A text-sink AggregatorWriter appending "superstep<TAB>name<TAB>value"
    * lines to `path` — the reference's TextAggregatorWriter
    * (CORE/aggregators/TextAggregatorWriter.java:95-113) default format.
    * Driver-side file: aggregator values are master-side scalars. */
  def textAggregatorWriter(path: String): (Int, Map[String, Any]) => Unit =
    (step, values) => {
      val w = new java.io.FileWriter(path, true)
      try values.toSeq.sortBy(_._1)
        .foreach { case (k, v) => w.write(s"$step\t$k\t$v\n") }
      finally w.close()
    }

  /** The post-superstep hooks, run on the (already materialized)
    * superstep frame: the configured aggregators are evaluated and their
    * scalars handed to the writer (one extra aggregation job per
    * superstep, only when aggregators are set), then `onSuperstep` runs. */
  private def afterSuperstep(r: Fixpoint.Round[DataFrame], opts: PregelOptions): Unit = {
    opts.aggregatorWriter.foreach { w =>
      if (opts.aggregators.nonEmpty) {
        val exprs = opts.aggregators.toSeq.map { case (nm, c) => c.as(nm) }
        val row = r.state.agg(exprs.head, exprs.tail: _*).first()
        w(r.index, opts.aggregators.keys.map(nm => nm -> row.getAs[Any](nm)).toMap)
      }
    }
    opts.onSuperstep(r.state, r.index)
  }

  /** The superstep barrier: eagerly materialize one superstep's frame
    * with truncated lineage, counting the rows where `active` is true
    * when given. On the configured cadence with a checkpoint dir set, a
    * *restartable* parquet snapshot (`<dir>/step_<N>`) is read straight
    * back (the write is the materializing action; the read-back plan is a
    * bare scan with the written frame's schema — both reliable and
    * resumable, unlike `RDD.checkpoint` files which die with the
    * SparkContext), and the count is a second job over it. Otherwise a
    * declared-hash(id) checkpoint: AQE-off with the count fused into its
    * one job when counting, adaptive for the fixed-iteration loops, whose
    * frames carry no `active` column. */
  private def materialize(opts: PregelOptions, active: Option[Column]): Fixpoint.Barrier =
    (df, step) => opts.checkpointDir match {
      case Some(dir) if (step + 1) % opts.checkpointEvery == 0 =>
        val path = s"$dir/step_$step"
        df.write.mode("overwrite").parquet(path)
        // the schema is the one just written: no inference job
        val back = df.sparkSession.read.schema(df.schema).parquet(path)
        (back, active.fold(Fixpoint.Unmeasured)(a => Fixpoint.counted(back.filter(a).count())))
      case _ => active match {
        case Some(a) => CheckpointBridge.materialize(df, Hash("id"), a)
        case None => Fixpoint.materializing(AdaptiveHash("id"))(df, step)
      }
    }

  /** The latest completed snapshot under `dir`: (superstep, frame).
    * Only `step_<N>` dirs holding a `_SUCCESS` marker count — a write
    * that died mid-flight is invisible, exactly the reference's
    * checkpoint-validity rule (BspServiceMaster.getLastGoodCheckpoint,
    * BspServiceMaster.java:1190-1223). */
  def latestCheckpoint(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Option[(Int, DataFrame)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else {
      val stepRe = "step_(\\d+)".r
      val steps = fs.listStatus(root).filter(_.isDirectory).flatMap { st =>
        st.getPath.getName match {
          case stepRe(n) if fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")) =>
            Some((n.toInt, st.getPath.toString))
          case _ => None
        }
      }
      if (steps.isEmpty) None
      else {
        val (n, path) = steps.maxBy(_._1)
        Some((n, spark.read.parquet(path)))
      }
    }
  }

  private def resumePoint(spark: org.apache.spark.sql.SparkSession,
                          opts: PregelOptions): Option[(Int, DataFrame)] =
    if (opts.resume) opts.checkpointDir.flatMap(latestCheckpoint(spark, _)) else None
}
