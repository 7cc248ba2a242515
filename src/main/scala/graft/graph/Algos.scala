package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.{AdaptiveHash, Hash, Stats, Tally,
  materialize, owned, free => freeCkpt}
import org.apache.spark.storage.StorageLevel

/** The reference's algorithm corpus (giraph-examples, SURVEY §2.9)
  * re-expressed as declarative Spark plans driven by [[Pregel]].
  *
  * Conventions: an edge frame has columns (src BIGINT, dst BIGINT[, w
  * BIGINT, cnt ...]); "symmetric" means every (u,v) has its (v,u) mirror
  * (the reference's makeSymmetric prep,
  * giraph-block-app-8 .../prepare_graph/PrepareGraphPieces.java:165-200).
  * All results are deterministic: integral where the reference is
  * integral, ties broken by id — so a SQL oracle can hash-match them.
  */
object Algos {

  /** Logical rounds chained per materialization job in the Bracha-Toueg
    * delta-frontier loops: per-round stage work is conserved, but fixed
    * per-job cost (scheduling, planning, codegen) — the dominant cost
    * when round frames are small — is paid once per batch. */
  private val WaveBatch = 4

  /** Fresh-flag delta-frontier reachability: the ids reachable from
    * `seeds` along `edges` within ≤ `maxHops` hops (seeds included), i.e.
    * the partial fixpoint n_i = n_{i-1} ∪ {dst | src ∈ n_{i-1}} after
    * maxHops rounds. Single state frame (id, fresh = first seen this
    * wave); per wave ONE fused checkpoint+fresh-count job — the count
    * rides the materializing action, so convergence is detected EVERY
    * wave and the loop exits the moment the frontier empties (the old
    * [[WaveBatch]]-boundary check paid up to WaveBatch−1 no-op wave
    * jobs after the fixpoint). The accumulator is at-least-once under
    * task retries, which only errs toward one extra no-op wave, never
    * an early stop — a true zero is always reported as zero.
    *
    * The frontier join's broadcast hint is SIZE-GATED by the exact
    * fresh count (r10, code-review finding): a checkpoint-leaf filter
    * carries the BALL's measured sizeInBytes (filters don't reduce the
    * size-only estimate), so Catalyst alone would sort-merge-shuffle
    * all edges every wave even for a 10-row frontier — but an
    * unconditional hint force-broadcasts bowtie's core seed = the
    * LARGEST SCC, a driver-killing build at web scale. Small counted
    * frontiers broadcast; large ones take the shuffled join that
    * scales. Callers should pass persisted/cheap `edges`: they are
    * scanned once per wave. */
  private def reachable(seeds: DataFrame, edges: DataFrame, maxHops: Int): DataFrame = {
    val bcBytes = seeds.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    def hint(frontier: DataFrame, n: Long): DataFrame =
      if (n * 32L <= bcBytes) broadcast(frontier) else frontier // ~32 B/id row
    val (seeded, seededFresh) = materialize(
        seeds.select(col("id")).distinct().withColumn("fresh", lit(true)), Stats,
        col("fresh"))
    Fixpoint.run(seeded, Fixpoint.materializing(Stats, col("fresh")), maxHops,
        start = Some(seededFresh), continue = Fixpoint.whileCounting) { (reached, _, fresh) =>
      reached.select(col("id"), lit(false).as("cand"))
        .union(edges
          .join(hint(reached.filter(col("fresh")).select(col("id").as("src")), fresh.count),
            Seq("src"))
          .select(col("dst").as("id"), lit(true).as("cand")))
        .groupBy(col("id")).agg(bool_and(col("cand")).as("fresh"))
    }._1.select("id")
  }

  /** Distinct vertex ids appearing as an endpoint. */
  def verticesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()

  /** In/out degree per vertex, 0-filled.
    * Reference: EX/Simple{In,Out}DegreeCountComputation.java — a whole
    * message round there, a single shuffle-free-after-scan agg here. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in  = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Connected components — converges to the component-wide min id, the
    * same unique fixpoint as the reference's min-propagation HCC
    * (EX/ConnectedComponentsComputation.java:49-110), but computed
    * FastSV-style: each round takes the min of (own label, neighbors'
    * labels, grandparent label f(f(v))). The pointer-jumping term halves
    * label-tree depth per round, so convergence is O(log n) rounds even
    * on path graphs where plain propagation needs O(diameter) — the
    * difference between 17 and 100,000 shuffles on a 100k-long event
    * chain. Per round: one edge⋈label shuffle + one label self-join. */
  def wcc(symEdges: DataFrame,
          opts: PregelOptions = PregelOptions(maxSupersteps = 100)): DataFrame = owned { o =>
    // e is joined on src every round and f on id (aliased to src) — both
    // carry DECLARED hash partitioning so the m1 join never reshuffles
    // (plain persist/localCheckpoint partitioning is invisible under
    // AQE; see CheckpointBridge.materialize)
    val e = o(materialize(symEdges.select("src", "dst"), AdaptiveHash("src")))
    val nbrMin0 = e.groupBy(col("src").as("id")).agg(min(col("dst")).as("nm"))
    val f0 = materialize(verticesOf(e).join(nbrMin0, Seq("id"), "left")
        .select(col("id"), col("id").as("f_old"), least(col("id"), col("nm")).as("f")), Stats)
    // |f| is INVARIANT across rounds (always one row per vertex), so one
    // measurement decides the whole loop's checkpoint strategy — the
    // static analogue of AQE's broadcast decision. Small vertex frame:
    // plain+stats checkpoint, every join broadcasts f, and we skip the
    // forced per-round repartition exchange (measured 2× on the sf0.1
    // event graph). Big vertex frame: broadcast is off the table anyway —
    // declared hash(id) makes the label self-joins exchange-free, which
    // is what survives at 100 TB.
    val smallV = {
      val sz = org.apache.spark.sql.graft.CheckpointBridge.sizeOf(f0)
      val thr = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      thr > 0 && sz >= 0 && sz < thr
    }
    // the changed-count rides the checkpoint's materializing job
    // (fused accumulator — one driver barrier per round, not two)
    val (f, _) = Fixpoint.run(f0,
        Fixpoint.materializing(if (smallV) Stats else Hash("id"), col("f") < col("f_old")),
        opts.maxSupersteps, continue = Fixpoint.whileCounting) { (f, _, _) =>
      // f carries a stale f_old column from round 1 on; the joins project it away
      val m1 = e.join(f.select(col("id").as("src"), col("f").as("fs")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("fs")).as("m1"))
      val gp = f.select(col("id").as("gid"), col("f").as("gf"))
      f.join(m1, Seq("id"), "left")
        .join(gp, col("f") === col("gid"), "left")
        .select(col("id"), col("f").as("f_old"),
          least(col("f"), col("m1"), col("gf")).as("f"))
    }
    f.select(col("id"), col("f").as("component"))
  }

  /** Per-component max-id propagation.
    * Reference: EX/MaxComputation.java:30-45. */
  def maxProp(symEdges: DataFrame, opts: PregelOptions = PregelOptions()): DataFrame =
    labelProp(symEdges, isMin = false, opts).withColumnRenamed("lbl", "max_id")

  private def labelProp(edges: DataFrame, isMin: Boolean, opts: PregelOptions): DataFrame = {
    val init = verticesOf(edges)
      .select(col("id"), col("id").as("lbl"), lit(true).as("active"))
    val agg = if (isMin) min(col("msg")) else max(col("msg"))
    val res = Pregel.run(
      init, edges.select("src", "dst"),
      sendMsg = j => j.select(col("dst").as("id"), col("lbl").as("msg")),
      combineMsg = agg,
      vprog = (verts, msgs) => {
        val better =
          if (isMin) col("msg").isNotNull && col("msg") < col("lbl")
          else col("msg").isNotNull && col("msg") > col("lbl")
        verts.join(msgs, Seq("id"), "left").select(
          col("id"),
          when(better, col("msg")).otherwise(col("lbl")).as("lbl"),
          coalesce(better, lit(false)).as("active"))
      },
      opts = opts)
    res.select("id", "lbl")
  }

  /** Single-source shortest paths (Bellman-Ford flavored BSP relaxation).
    * Unreached vertices are absent from the result (the reference leaves
    * them at MAX_VALUE). Reference:
    * EX/SimpleShortestPathsComputation.java:39-87 — superstep 0 seeds the
    * source at 0, each round relaxes min(msgs) and fans `dist+w` out on
    * improvement, voteToHalt otherwise. */
  def sssp(edges: DataFrame, source: Long,
           opts: PregelOptions = PregelOptions(maxSupersteps = 64)): DataFrame = {
    val init = verticesOf(edges).select(
      col("id"),
      when(col("id") === source, lit(0L)).otherwise(lit(null).cast("long")).as("dist"),
      (col("id") === source).as("active"))
    val res = Pregel.run(
      init, edges.select("src", "dst", "w"),
      sendMsg = j => j.select(col("dst").as("id"), (col("dist") + col("w")).as("msg")),
      combineMsg = min(col("msg")),
      vprog = (verts, msgs) => {
        val better = col("msg").isNotNull && (col("dist").isNull || col("msg") < col("dist"))
        verts.join(msgs, Seq("id"), "left").select(
          col("id"),
          when(better, col("msg")).otherwise(col("dist")).as("dist"),
          coalesce(better, lit(false)).as("active"))
      },
      opts = opts)
    res.filter(col("dist").isNotNull).select("id", "dist")
  }

  /** Multi-source BFS hop levels.
    * Reference: BLOCK8 .../algo/BreadthFirstSearch.java:58-123. */
  def bfs(edges: DataFrame, sources: Seq[Long],
          opts: PregelOptions = PregelOptions(maxSupersteps = 64)): DataFrame = {
    val e = edges.select("src", "dst")
    val init = verticesOf(e).select(
      col("id"),
      when(col("id").isInCollection(sources), lit(0L)).otherwise(lit(null).cast("long")).as("dist"),
      col("id").isInCollection(sources).as("active"))
    Pregel.run(
      init, e,
      sendMsg = j => j.select(col("dst").as("id"), (col("dist") + 1L).as("msg")),
      combineMsg = min(col("msg")),
      vprog = (verts, msgs) => {
        val better = col("msg").isNotNull && (col("dist").isNull || col("msg") < col("dist"))
        verts.join(msgs, Seq("id"), "left").select(
          col("id"),
          when(better, col("msg")).otherwise(col("dist")).as("dist"),
          coalesce(better, lit(false)).as("active"))
      }, opts = opts)
      .filter(col("dist").isNotNull)
      .select(col("id"), col("dist").as("level"))
  }

  /** PageRank with teleport `resetProb` and dangling-mass redistribution,
    * fixed iteration count (deterministic — the oracle replays it).
    * Reference: EX/PageRankComputation.java:32-57 (random-walk form with
    * dangling redistribution via aggregators),
    * EX/SimplePageRankComputation.java (fixed-iteration form).
    * Scale: per iteration one shuffle (contrib groupBy dst) + one
    * broadcast scalar (dangling mass); vertex count collected once. */
  def pagerank(edges: DataFrame, iterations: Int,
               damping: Double = 0.85, resetProb: Double = 0.15,
               opts: PregelOptions = PregelOptions()): DataFrame = owned { o =>
    val e = o(materialize(edges.select("src", "dst"), AdaptiveHash("src")))
    val v = o(verticesOf(e).persist(StorageLevel.MEMORY_AND_DISK))
    val n = v.count().toDouble
    val deg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
    val init = v.join(deg, Seq("id"), "left")
      .select(col("id"), lit(1.0 / n).as("pr"),
        coalesce(col("outdeg"), lit(0.0)).as("outdeg"))
    val res = Pregel.iterate(init, iterations, opts) { (verts, _) =>
      prUpdate(verts, e, n, damping, resetProb)
    }
    res.select("id", "pr")
  }

  /** One PageRank power-iteration round (shared by the fixed-iteration
    * and convergence-halted forms). */
  private def prUpdate(verts: DataFrame, e: DataFrame, n: Double,
                       damping: Double, resetProb: Double): DataFrame = {
    val sums = verts.filter(col("outdeg") > 0)
      .join(e, col("id") === col("src"))
      .select(col("dst"), (col("pr") / col("outdeg")).as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("s"))
    val dang = verts.filter(col("outdeg") === 0)
      .agg(coalesce(sum(col("pr")), lit(0.0)).as("dsum"))
    verts.drop("pr")
      .join(sums, col("id") === col("dst"), "left")
      .crossJoin(broadcast(dang))
      .select(col("id"),
        (lit(resetProb / n) +
          lit(damping) * (coalesce(col("s"), lit(0.0)) + col("dsum") / n)).as("pr"),
        col("outdeg"))
  }

  /** PageRank with convergence-based halting — the reference's
    * `PageRankConvergenceType` family (BLOCK8/library/pagerank/
    * PageRankConvergenceType.java: SUM/MAX × absolute/relative
    * differences + RMSE, checked by the master per superstep): rounds run
    * until the chosen delta metric between consecutive rank vectors drops
    * below `tol`, or `maxIters`. The per-round metric is a single driver
    * SCALAR (master-collects-scalars rule); the iterated vertex frame is
    * checkpointed with declared id-partitioning like every Pregel loop,
    * so the prev⋈next delta join is exchange-free. Returns
    * (result, roundsRun). Iteration count is data-dependent, so this
    * variant is spec-verified (AlgosSpec) rather than SQL-oracled — the
    * fixed-iteration [[pagerank]] carries the oracle. */
  def pagerankConverged(edges: DataFrame, maxIters: Int = 64,
                        tol: Double = 1e-8, convergence: String = "sum",
                        damping: Double = 0.85,
                        resetProb: Double = 0.15): (DataFrame, Int) = owned { o =>
    val e = o(materialize(edges.select("src", "dst"), AdaptiveHash("src")))
    val v = o(verticesOf(e).persist(StorageLevel.MEMORY_AND_DISK))
    val n = v.count().toDouble
    val deg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
    val init = materialize(v.join(deg, Seq("id"), "left")
      .select(col("id"), lit(1.0 / n).as("pr"),
        coalesce(col("outdeg"), lit(0.0)).as("outdeg")), AdaptiveHash("id"))
    // The per-row |Δ| metric rides the checkpoint's materializing job
    // (CheckpointBridge.materialize): one driver
    // barrier per round, not checkpoint + a separate delta-agg job
    // (round-7 verdict task 5). The accumulator contract is one-sided —
    // a retry can only inflate the delta, so the loop can only run long,
    // never halt early — and the delta is loop control, not result data.
    require(Set("sum", "max", "sum_rel", "max_rel", "rmse")(convergence),
      s"unknown convergence: $convergence")
    val diff = abs(col("pr") - col("prev_pr"))
    val rowMetric = convergence match {
      case "sum" | "max"         => diff
      case "sum_rel" | "max_rel" => diff / col("prev_pr")
      case "rmse"                => diff * diff
    }
    val delta: Tally => Double = convergence match {
      case "sum" | "sum_rel" => _.sum
      case "max" | "max_rel" => _.max
      case "rmse"            => t => math.sqrt(t.sum / n)
    }
    val (verts, it) = Fixpoint.run(init, Fixpoint.materializing(Hash("id"), rowMetric),
        maxIters, continue = (r: Fixpoint.Round[DataFrame]) => delta(r.tally) >= tol) {
        (verts, _, _) =>
      val prev = verts.select("id", "pr", "outdeg")
      prUpdate(prev, e, n, damping, resetProb)
        .join(prev.select(col("id"), col("pr").as("prev_pr")), Seq("id"))
    }
    (verts.select("id", "pr"), it)
  }

  /** Weighted PageRank: contributions proportional to edge weight
    * (pr · w / Σw_out). Reference: WeightedPageRankBenchmark +
    * RandomWalkComputation's weighted transition probabilities
    * (EX/RandomWalkComputation.java:38-141). No dangling handling —
    * callers pass a symmetric graph (every vertex has out-edges). */
  def pagerankWeighted(edges: DataFrame, iterations: Int,
                       damping: Double = 0.85, resetProb: Double = 0.15,
                       opts: PregelOptions = PregelOptions()): DataFrame = owned { o =>
    val e = o(materialize(edges.select("src", "dst", "w"), AdaptiveHash("src")))
    val v = o(verticesOf(e).persist(StorageLevel.MEMORY_AND_DISK))
    val n = v.count().toDouble
    val wdeg = e.groupBy(col("src").as("id")).agg(sum(col("w")).cast("double").as("wsum"))
    val init = v.join(wdeg, Seq("id"))
      .select(col("id"), lit(1.0 / n).as("pr"), col("wsum"))
    val res = Pregel.iterate(init, iterations, opts) { (verts, _) =>
      val sums = verts.join(e, col("id") === col("src"))
        .select(col("dst"), (col("pr") * col("w") / col("wsum")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      verts.drop("pr")
        .join(sums, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(resetProb / n) + lit(damping) * coalesce(col("s"), lit(0.0))).as("pr"),
          col("wsum"))
    }
    res.select("id", "pr")
  }

  /** Random walk with restart (personalized PageRank to a single source).
    * Reference: EX/RandomWalkWithRestartComputation.java — restart mass
    * (1-d) returns to the source instead of being spread uniformly. */
  def randomWalkWithRestart(edges: DataFrame, source: Long, iterations: Int,
                            damping: Double = 0.85, resetProb: Double = 0.15,
                            opts: PregelOptions = PregelOptions()): DataFrame = owned { o =>
    val e = o(materialize(edges.select("src", "dst"), AdaptiveHash("src")))
    val v = o(verticesOf(e).persist(StorageLevel.MEMORY_AND_DISK))
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).cast("double").as("outdeg"))
    val init = v.join(deg, Seq("id"))
      .select(col("id"),
        when(col("id") === source, lit(1.0)).otherwise(lit(0.0)).as("pr"),
        col("outdeg"))
    val res = Pregel.iterate(init, iterations, opts) { (verts, _) =>
      val sums = verts.join(e, col("id") === col("src"))
        .select(col("dst"), (col("pr") / col("outdeg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      verts.drop("pr")
        .join(sums, col("id") === col("dst"), "left")
        .select(col("id"),
          (when(col("id") === source, lit(resetProb)).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("s"), lit(0.0))).as("pr"),
          col("outdeg"))
    }
    res.select("id", "pr")
  }

  /** Batched multi-source random-walk-with-restart: `nSources`
    * personalized-PageRank problems (the smallest distinct sources, the
    * [[randomWalkWithRestart]] reference semantics per tag) advance in
    * ONE tagged frame — per round a single (id ⋈ edges) shuffle and one
    * (dst, tag) aggregation serve every source, instead of S separate
    * jobs. The batching is the 100 TB point: personalization workloads
    * ask for thousands of sources, and the per-round shuffle cost is
    * amortized across all of them (the taggedBfs discipline applied to
    * the PageRank family). Tagged state is |V|·S rows, hash-checkpointed
    * per round. */
  def rwrMulti(edges: DataFrame, nSources: Int, iterations: Int,
               damping: Double = 0.85, resetProb: Double = 0.15): DataFrame = owned { o =>
    val e = o(materialize(edges.select("src", "dst"), AdaptiveHash("src")))
    // vertex frame = vertices WITH out-edges, matching the single-source
    // randomWalkWithRestart (inner join with deg) and the oracle's
    // DISTINCT-src CTE: sink (dst-only) vertices hold no walk state in
    // the reference semantics, so they must not emit (sink, tag) rows
    val v = o(materialize(e.select(col("src").as("id")).distinct(), AdaptiveHash("id")))
    val srcs = o(e.select(col("src")).distinct()
      .orderBy(col("src")).limit(nSources)
      .select(col("src").as("tag")).localCheckpoint())
    val deg = o(materialize(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).cast("double").as("outdeg")),
      AdaptiveHash("id")))
    val p0 = materialize(
      v.crossJoin(broadcast(srcs))
        .select(col("id"), col("tag"),
          when(col("id") === col("tag"), lit(1.0)).otherwise(lit(0.0)).as("pr")),
      AdaptiveHash("id"))
    val (p, _) = Fixpoint.run(p0, Fixpoint.materializing(AdaptiveHash("id")), iterations) {
        (p, _, _) =>
      val sums = p.join(deg, Seq("id"))
        .join(e, col("id") === col("src"))
        .select(col("dst"), col("tag"), (col("pr") / col("outdeg")).as("c"))
        .groupBy(col("dst"), col("tag")).agg(sum(col("c")).as("s"))
      v.crossJoin(broadcast(srcs)).as("vt")
        .join(sums.as("sm"),
          col("vt.id") === col("sm.dst") && col("vt.tag") === col("sm.tag"), "left")
        .select(col("vt.id").as("id"), col("vt.tag").as("tag"),
          (when(col("vt.id") === col("vt.tag"), lit(resetProb)).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("sm.s"), lit(0.0))).as("pr"))
    }
    o(p).orderBy(col("tag"), col("id")).localCheckpoint()
  }

  /** Degree-distribution summary (DirectedGraphStats,
    * BLOCK8 .../stats/DirectedGraphStats.java): one row of scalars. */
  def degreeStats(edges: DataFrame): DataFrame =
    edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_vertices"),
        min(col("d")).as("min_deg"),
        max(col("d")).as("max_deg"),
        floor(avg(col("d")) * 10000).cast("long").as("avg_deg_e4"),
        expr("percentile(d, 0.5)").as("median_deg"))

  /** Partitioning-quality stats for a vertex→bucket assignment
    * (id mod nBuckets — the LongMappingStore-style placement):
    * edge locality = fraction of edges inside one bucket, and average
    * fanout = mean distinct buckets a vertex's out-neighbors land in.
    * Reference: BLOCK8 .../stats/PartitioningStats.java
    * (calculateEdgeLocality:47-87, average fanout :89-135) — a
    * SendMessageChain + master reduce there; two aggregations here, one
    * scan + one (src → distinct bucket) shuffle, scalars out. */
  def partitioningStats(edges: DataFrame, nBuckets: Int): DataFrame = {
    val e = edges.select(
      col("src"), col("dst"),
      pmod(col("src"), lit(nBuckets.toLong)).as("bs"),
      pmod(col("dst"), lit(nBuckets.toLong)).as("bd"))
    val fan = e.groupBy(col("src")).agg(countDistinct(col("bd")).as("f"))
      .agg(count(lit(1)).as("nv"), sum(col("f")).as("sf"))
    val loc = e.agg(count(lit(1)).as("ne"),
      sum(when(col("bs") === col("bd"), 1L).otherwise(0L)).as("le"))
    loc.crossJoin(fan).select(
      col("ne").as("n_edges"), col("le").as("local_edges"),
      graft.sql.Exact.e6(col("le") / col("ne")).as("locality_e6"),
      graft.sql.Exact.e6(col("sf") / col("nv")).as("avg_fanout_e6"))
  }

  /** Canonical pairs (u < v) re-oriented low-degree → high-degree
    * endpoint (ties by id): the compact-forward / degree-ordered
    * orientation (Chiba–Nishizeki; Schank–Wagner '05). Out-degrees in the
    * oriented graph are bounded by O(√m) (more precisely the arboricity),
    * so wedge enumeration at a hub costs O(√m·d) instead of O(d²) — the
    * difference between a skewed 100×-scale graph finishing and not.
    * Fully deterministic, so triangle counts are unchanged and the SQL
    * oracles still match. */
  /** Undirected degree of each endpoint of a canonical pair frame. */
  private def pairDegrees(pairs: DataFrame): DataFrame =
    pairs.select(col("u").as("id")).union(pairs.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))

  private def orientByDegree(pairs: DataFrame, deg: DataFrame): DataFrame = {
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    pairs.select(col("u"), col("v"))
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"))
  }

  /** Each oriented edge annotated with both endpoints' sorted out-neighbor
    * arrays: (src, dst, nu, nv). Triangle counting is then per-edge
    * adjacency intersection — |N⁺(src) ∩ N⁺(dst)| triangles close each
    * edge, and each triangle is counted exactly once, at the edge between
    * its two lowest-(degree, id) corners. Attaching arrays to edges costs
    * two equi-joins; the intersection itself runs inside whole-stage
    * codegen with NO wedge-sized intermediate — measured 2.4× faster than
    * the wedge self-join on the densest bench graph (sum over edges of
    * O(out(u)+out(v)) set work vs. materializing every wedge row).
    *
    * The result reads the two checkpoints `o` and `nb`, so they pass to
    * the caller with it. Both are `Stats` materializations: their
    * measured sizes fix the joins' build sides at planning, where AQE
    * picked one or two broadcasts by which shuffle stage finished first
    * (a job count that flipped from pass to pass). */
  private def edgesWithAdjacency(pairs: DataFrame, deg: DataFrame): DataFrame = {
    val (o, nb) = orientedAdjacency(pairs, deg, materialize(_, Stats))
    // inner joins: an edge whose dst has no out-edges closes no triangle
    o.join(nb.select(col("id").as("src"), col("nbrs").as("nu")), Seq("src"))
      .join(nb.select(col("id").as("dst"), col("nbrs").as("nv")), Seq("dst"))
  }

  /** The degree-oriented edges (src, dst) and each source's sorted
    * out-neighbor array (id, nbrs), both passed through `checkpoint`. nb
    * is joined twice by its readers; checkpointing it runs the
    * collect_list aggregation once instead of twice (Spark re-evaluates
    * each side of a self-join). */
  private def orientedAdjacency(pairs: DataFrame, deg: DataFrame,
                                checkpoint: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val o = checkpoint(orientByDegree(pairs, deg).select(col("src"), col("dst")))
    (o, checkpoint(o.groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))))
  }

  /** Total triangle count over an undirected graph given as canonical
    * pairs (u < v), via degree-oriented (compact-forward) adjacency
    * intersection: per-vertex work is bounded by the *oriented*
    * out-degree — O(√m) even at a hub — and no wedge-sized intermediate
    * is ever materialized (the reason this beats both the wedge
    * self-join and its broadcast variant on dense graphs).
    * Reference semantics: EX/SimpleTriangleClosingComputation.java (the
    * 2-superstep friends-of-friends exchange). */
  def triangleCount(pairs: DataFrame): DataFrame = owned { o =>
    // pairs is scanned 3× (degree union + orientation join sides);
    // checkpoint once so derivation cost (often a self-join) isn't re-paid
    val p = o(pairs.select(col("u"), col("v")).localCheckpoint())
    edgesWithAdjacency(p, pairDegrees(p))
      .select(size(array_intersect(col("nu"), col("nv"))).cast("long").as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("triangles"))
  }

  /** Per-vertex triangle participation + local clustering coefficient
    * cc = 2·tri / (deg·(deg−1)) over an undirected graph given as
    * canonical pairs (u < v). Same degree-oriented intersection as
    * [[triangleCount]]; each closed edge credits its two pivot corners
    * with the intersection size and each third corner with 1 — a single
    * output-linear explode pass (one row per triangle-corner incidence,
    * the information-theoretic minimum for per-vertex counts), so the
    * counts equal the unoriented definition and the oracle is unchanged.
    * cc emitted floor-scaled (graft.sql.Exact); degree-1 vertices get
    * cc 0. */
  def clusteringCoefficient(pairs: DataFrame): DataFrame = owned { o =>
    // checkpoint once: the pair derivation feeds orientByDegree (3 scans)
    // AND the degree aggregation below — 5 recomputes without this
    val e = o(pairs.select(col("u"), col("v")).localCheckpoint())
    // degrees are shared by the orientation (2 join sides) and the cc
    // denominator — one aggregation instead of two
    val deg = pairDegrees(e).localCheckpoint()
    // single narrow posexplode pass: positions < k are third corners
    // (credit 1 each), the two trailing positions are the pivots (credit
    // k each) — measured ~2× faster than either a struct-array explode
    // (per-row allocation) or a two-branch union (recomputes the joins)
    val triPerV = edgesWithAdjacency(e, deg)
      .select(col("src"), col("dst"), array_intersect(col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(size(col("ws")).as("k"),
        posexplode(concat(col("ws"), array(col("src"), col("dst")))).as(Seq("p", "id")))
      .select(col("id"),
        when(col("p") < col("k"), lit(1L)).otherwise(col("k").cast("long")).as("n"))
      .groupBy(col("id")).agg(sum(col("n")).as("tri_cnt"))
    deg.join(triPerV, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        when(col("d") >= 2,
          graft.sql.Exact.e6(lit(2) * coalesce(col("tri_cnt"), lit(0L)) /
            (col("d") * (col("d") - 1))))
          .otherwise(lit(0L)).as("cc_e6"))
  }

  /** Per-edge triangle support over canonical pairs (u < v), via the
    * same degree-oriented adjacency intersection [[triangleCount]] uses:
    * each triangle found at its pivot edge credits its THREE canonical
    * edges through an output-linear 3-row union — never a wedge-sized
    * intermediate. Returns (u, v, support), support 0-filled, as a lazy
    * plan over `e` and the orientation checkpoints; its callers
    * materialize it and release the checkpoints, so the peeling loop
    * strands no blocks per round.
    *
    * The orientation checkpoints stay plain AQE-on `localCheckpoint`s.
    * `Stats` ones, as in [[edgesWithAdjacency]], measured slower here:
    * +2 jobs on q_graph_ktruss at sf0.001 (its AQE-off support pass
    * broadcasts every join, one job each), and q_graph_edge_jaccard and
    * q_graph_local_bridges full output about 1.6× slower at sf0.01. */
  private def supportPlan(e: DataFrame): DataFrame = {
    val (o, nb) = orientedAdjacency(e, pairDegrees(e), _.localCheckpoint())
    val tris = o
      .join(nb.select(col("id").as("src"), col("nbrs").as("nu")), Seq("src"))
      .join(nb.select(col("id").as("dst"), col("nbrs").as("nv")), Seq("dst"))
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    def edge(a: String, b: String) = tris.select(
      least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
    val sup = edge("src", "dst").union(edge("src", "w")).union(edge("dst", "w"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
    e.join(sup, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("sup"), lit(0L)).as("support"))
  }

  /** [[supportPlan]], checkpointed. */
  private[graph] def edgeSupport(e: DataFrame): DataFrame =
    owned(o => o(supportPlan(e)).localCheckpoint())

  /** [[edgeSupport]] with a fused predicate count on the checkpoint job. */
  private def edgeSupportCount(e: DataFrame, pred: Column): (DataFrame, Long) = owned { o =>
    val (out, Tally(kept, _, _)) = materialize(o(supportPlan(e)), Stats, pred)
    (out, kept)
  }

  /** k-truss: the maximal subgraph where every edge closes ≥ k−2
    * triangles WITHIN the subgraph — the triangle-based cohesion
    * companion to [[kCore]] (degree peeling), same fixpoint shape:
    * recompute support, drop light edges, repeat until no edge falls.
    * Input canonical pairs (u < v); output the surviving edges with
    * their final within-truss support.
    *
    * Scale: per round one support pass (arboricity-bounded intersection
    * work, output linear in triangles) + one count; rounds are bounded
    * by opts.maxSupersteps and in practice by the peeling depth. All
    * iterated state is checkpoint-managed; the driver sees only the
    * edge-count scalar. */
  def kTruss(pairs: DataFrame, k: Int,
             opts: PregelOptions = PregelOptions(maxSupersteps = 40)): DataFrame = owned { o =>
    // measured stats, not plain localCheckpoint: edgeSupport references
    // e three times per round, so estimated stats would compound
    // 3^rounds through the checkpoints (see CheckpointBridge.materialize)
    var e = pairs.select(col("u"), col("v")).transform(materialize(_, Stats))
    var cnt = e.count()
    var step = 0
    var stable: Option[DataFrame] = None
    while (stable.isEmpty && step < opts.maxSupersteps) {
      // fixpoint ⟺ a support pass over the CURRENT edge set drops
      // nothing (filtering on stale supports would exit one round early
      // with under-supported edges still in); the kept-count rides the
      // support checkpoint's own job
      val (sup, keptCnt) = edgeSupportCount(e, col("support") >= k - 2)
      if (keptCnt == cnt) stable = Some(sup)
      else {
        val kept = sup.filter(col("support") >= k - 2)
          .select("u", "v").transform(materialize(_, Stats))
        freeCkpt(sup); freeCkpt(e)
        e = kept
        cnt = keptCnt
        step += 1
      }
    }
    o(e)
    // without a stable round the budget ran out: annotate the partially
    // peeled set
    stable.getOrElse(edgeSupport(e)).orderBy(col("u"), col("v"))
  }

  /** Minimum spanning forest via Borůvka: each round every component
    * picks its lightest incident cross-component edge (total order
    * (w, u, v) — the deterministic tie-break that makes the MSF unique
    * and equal to Kruskal's under the same order, which the spec
    * asserts), the chosen edges contract by INLINE pointer doubling
    * (r15; previously a nested [[wcc]] run per round), and components at
    * least halve — O(log n) rounds. Reference analog: the classic Pregel
    * MST formulation (min-edge gather + supervertex contraction).
    *
    * Contraction: each live component's chosen edge yields a parent
    * pointer par(c) = the other endpoint's component. That pointer graph
    * is a pseudo-forest in which every tree carries exactly one 2-cycle
    * (the pair that chose the same minimal edge — the tree's lightest).
    * Rooting each 2-cycle at its smaller id and then doubling
    * (f := f∘f, fixpoint) collapses every tree to its root — the EXACT
    * recurrence [[graft.sql.OracleGen.boruvkaSql]] unrolls (its q_r_j
    * CTE chain), so engine labels now match the oracle's c_r labels
    * round-for-round, where the old nested WCC produced a different (but
    * partition-equal) labeling. The output — the union of per-round
    * chosen edges — depends only on the component PARTITION, never on
    * label values, so it is unchanged by construction.
    *
    * Scale: per round one edge⋈label join pair + a struct-min agg (all
    * map-side combinable) + O(log depth) self-joins of the parent table
    * (≤ #components rows, shrinking geometrically) — no per-round
    * re-checkpoint of a symmetric component edge frame and no nested
    * fixpoint init. Driver sees one scalar per round plus one per jump.
    * Input canonical pairs (u < v, integral w); output the chosen edges
    * (u, v, w). */
  def mst(pairs: DataFrame,
          opts: PregelOptions = PregelOptions(maxSupersteps = 30)): DataFrame = owned { o =>
    val s = pairs.sparkSession
    val edges = o(pairs.select(col("u"), col("v"), col("w")).distinct().localCheckpoint())
    val comp0 = verticesOf(edges.select(col("u").as("src"), col("v").as("dst")))
      .select(col("id"), col("id").as("c")).localCheckpoint()
    // state: (component label per vertex, the chosen edges so far)
    val ((comp, chosen), _) = Fixpoint.run((comp0, Option.empty[DataFrame]),
        Fixpoint.inStep[(DataFrame, Option[DataFrame])], opts.maxSupersteps,
        continue = Fixpoint.whileCounting) { case (state @ (comp, chosen), _, _) => owned { r =>
      val lab = edges
        .join(comp.select(col("id").as("u"), col("c").as("cu")), Seq("u"))
        .join(comp.select(col("id").as("v"), col("c").as("cv")), Seq("v"))
        .filter(col("cu") =!= col("cv"))
      // per-component lightest cross edge WITH its parent pointer: the
      // 4th struct field rides along without affecting which edge wins
      // ((w, u, v) is unique per row — edges are distinct), exactly the
      // oracle's rn=1 over ORDER BY w, u, v (its mp_r CTE). One fused
      // checkpoint serves the chosen-edge rows AND the pointer table; its
      // row count is the round's merge count.
      val m0 = lab.select(col("cu").as("comp"),
          struct(col("w"), col("u"), col("v"), col("cv").as("p")).as("e"))
        .union(lab.select(col("cv").as("comp"),
          struct(col("w"), col("u"), col("v"), col("cu").as("p")).as("e")))
        .groupBy(col("comp")).agg(min(col("e")).as("m"))
        .select(col("comp"), col("m.u").as("u"), col("m.v").as("v"),
          col("m.w").as("w"), col("m.p").as("par"))
      val (mm, merges) = materialize(m0, Stats, lit(true))
      r(mm)
      if (merges.count == 0) (state, merges)
      else {
        val cand = mm.select(col("u"), col("v"), col("w")).distinct()
        val acc = chosen.fold(cand)(_.union(cand)).localCheckpoint()
        // root the 2-cycles: par(par(c)) == c ⟹ root := min(c, par(c));
        // every par value is itself a live component with a chosen edge,
        // so the self-join is total (inner is exact — oracle q_r_0)
        val mp = mm.select(col("comp"), col("par"))
        val rooted = mp.as("a").join(mp.as("b"), col("b.comp") === col("a.par"))
          .select(col("a.comp").as("comp"),
            when(col("b.par") === col("a.comp"),
              least(col("a.comp"), col("a.par")))
              .otherwise(col("a.par")).as("par"))
          .transform(materialize(_, Stats))
        // pointer doubling to fixpoint (roots map to themselves, so the
        // composition is total and monotone toward the root; the changed
        // count rides each checkpoint job)
        val (f, _) = Fixpoint.run(rooted,
            Fixpoint.materializing(Stats, col("par") =!= col("p_old")), Int.MaxValue,
            continue = Fixpoint.whileCounting) { (g0, _, _) =>
          val g = g0.drop("p_old")
          g.as("a").join(g.as("b"), col("b.comp") === col("a.par"))
            .select(col("a.comp").as("comp"), col("a.par").as("p_old"),
              col("b.par").as("par"))
        }
        r(f)
        val nextComp = comp.join(f.select(col("comp").as("c"), col("par")),
            Seq("c"), "left")
          .select(col("id"), coalesce(col("par"), col("c")).as("c"))
          .localCheckpoint()
        ((nextComp, Some(acc)), merges)
      }
    }}
    o(comp)
    chosen.fold(s.emptyDataFrame)(o(_).orderBy(col("u"), col("v")).localCheckpoint())
  }

  /** Deterministic random-walk corpus: one walk per vertex, `len` steps.
    * Step i from vertex c on walk w moves to the neighbor at index
    * md5(w:i:c) mod outdeg(c) in the dst-sorted adjacency — an
    * RNG-free walk that is a pure function of the graph (re-runnable,
    * partition-independent, seedless — the sampling-determinism rule the
    * corpus samplers follow; md5 is engine-portable so a SQL oracle
    * replays every step). The walk corpus is what a node-embedding
    * trainer (DeepWalk/node2vec-style) consumes.
    *
    * Scale: adjacency ranked once (one window over the edge list);
    * per step ONE equi-join on (src, idx) — walk count × 1 rows joined
    * against the ranked adjacency, no per-vertex neighbor collection.
    * Returns (walk, step, vertex), steps 0..len. */
  def randomWalks(symEdges: DataFrame, len: Int): DataFrame = owned { o =>
    val e = symEdges.select("src", "dst").distinct()
    val w = Window.partitionBy(col("src")).orderBy(col("dst"))
    val adj = o(e.select(col("src"), col("dst"),
      (row_number().over(w) - lit(1)).cast("long").as("idx")).localCheckpoint())
    val deg = o(adj.groupBy(col("src")).agg(count(lit(1)).as("deg")).localCheckpoint())
    // engine-portable uniform: first 6 md5 hex digits (Corpus.md5Uniform's
    // rule, inlined to keep graph free of the pipeline package)
    def u(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 6), 16, 10).cast("long")
    // every step frame stays checkpointed until the final union
    // materializes: the lazy acc reads them all
    var cur = o(verticesOf(e)
      .select(col("id").as("walk"), col("id").as("cur")).localCheckpoint())
    var acc = cur.select(col("walk"), lit(0).as("step"), col("cur").as("vertex"))
    for (i <- 1 to len) {
      val nxt = cur.select(col("walk"), col("cur").as("src"))
        .join(deg, Seq("src"))
        .withColumn("idx", pmod(
          u(concat(col("walk").cast("string"), lit(s":$i:"), col("src").cast("string"))),
          col("deg")))
        .join(adj, Seq("src", "idx"))
        .select(col("walk"), col("dst").as("cur"))
        .localCheckpoint()
      acc = acc.union(o(nxt).select(col("walk"), lit(i).as("step"), col("cur").as("vertex")))
      cur = nxt
    }
    acc.orderBy(col("walk"), col("step")).localCheckpoint()
  }

  /** Edge-neighborhood Jaccard similarity (link strength): for each
    * existing canonical edge (u,v), |N(u)∩N(v)| / |N(u)∪N(v)\{u,v}| as
    * a floor-scaled e6 BIGINT — the triangle-intersection kernel
    * ([[edgeSupport]], arboricity-bounded, no wedge materialization)
    * plus two degree lookups. Top `topK` by (jac desc, u, v). */
  def edgeJaccard(pairs: DataFrame, topK: Int): DataFrame = owned { o =>
    // Checkpoint the input ONCE (the triangleCount discipline): the
    // support pass references the edge frame three times (degree pass,
    // orientation join, 0-fill credits join), and `pairs` is often an
    // expensive lazy derivation — partCoPairs is a lineitem self-join +
    // distinct. Re-deriving it per reference read flat at sf0.1 but was
    // the dominant term of a 17.1× blow-up at the 10× decade
    // (round 11, PLANS.md): three 10×-sized self-join+distinct evaluations,
    // each spilling, where one checkpointed pass suffices.
    val sup = o(edgeSupport(o(pairs.select(col("u"), col("v")).localCheckpoint())))
    // degrees from the CHECKPOINTED support frame (same edge set, same
    // rows) — one aggregation over materialized blocks
    val deg = pairDegrees(sup)
    sup
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("support"),
        when(col("du") + col("dv") - lit(2) - col("support") > 0,
          expr("support * 1000000 div (du + dv - 2 - support)"))
          .otherwise(lit(1000000L)).as("jac_e6"))
      .orderBy(col("jac_e6").desc, col("u"), col("v"))
      .limit(topK)
      .localCheckpoint()
  }

  /** Double-sweep diameter lower bound (the classic 2-BFS estimator,
    * exact on trees and near-exact on real-world graphs): BFS from the
    * min-id vertex, hop to the farthest reached vertex (ties: min id —
    * deterministic, oracle-replayable), BFS again; the second
    * eccentricity is the bound. Two [[bfs]] runs + two driver scalars —
    * the whole-graph work is the two BSP sweeps, nothing else. Returns
    * one row (start_id, far_id, diameter_lb). */
  def doubleSweep(symEdges: DataFrame): DataFrame = owned { o =>
    val s = symEdges.sparkSession
    val src = symEdges.agg(min(col("src"))).first().getLong(0)
    val far = o(bfs(symEdges, Seq(src))).orderBy(col("level").desc, col("id")).limit(1)
      .first().getLong(0)
    val ecc = o(bfs(symEdges, Seq(far))).agg(max(col("level"))).first().getLong(0)
    import s.implicits._
    Seq((src, far, ecc)).toDF("start_id", "far_id", "diameter_lb")
  }

  /** Per-source eccentricity via ONE tagged multi-source BFS: state is
    * (id, tag, level) — |sources|× the single-source frame, one loop
    * instead of |sources| loops (each round: frontier⋈edges + a
    * min-combine + anti-joins against the last TWO frontiers — the
    * [[taggedBfs]] undirected frontier rule; BFS levels are final on
    * first arrival, so the frontier is exactly the new rows). Input may
    * be directed: distances are over the UNDIRECTED graph ([[taggedBfs]]
    * symmetrizes internally — idempotent on symmetric input).
    * Returns (source, ecc, n_reached) — max hop and reach size per
    * source; on a disconnected graph ecc is over the reachable part. */
  def eccentricities(edges: DataFrame, sources: Seq[Long],
                     maxHops: Int = 64): DataFrame = owned { o =>
    val settled = o(taggedBfs(edges, sources, maxHops))
    // ecc (max), reach size, and the closeness numerator (sum of hop
    // distances) all fall out of the same settled frame — one BFS pays
    // for every distance-based centrality of the source set
    settled.groupBy(col("tag").as("source"))
      .agg(max(col("level")).as("ecc"), count(lit(1)).as("n_reached"),
        sum(col("level")).as("dist_sum"))
      .orderBy(col("source"))
      .localCheckpoint()
  }

  /** lcm(1..16): common denominator for the exact harmonic numerator —
    * Σ 1/d becomes Σ (L div d) / L, pure BIGINT for d ≤ 16 (and a
    * deterministic floored term beyond — identical in any engine). */
  val HarmonicLcm: Long = 720720L

  /** Harmonic centrality Σ 1/d(s, v) per source — the disconnect-robust
    * closeness variant (unreachable vertices contribute 0 instead of
    * poisoning the mean). Rides the SAME tagged multi-source BFS as
    * [[eccentricities]]; only the final aggregate differs. Returns
    * (source, harmonic DOUBLE, harmonic_num, n_reached):
    * `harmonic_num` = Σ (HarmonicLcm div d) is the EXACT integer form —
    * the double Σ 1/d is order-dependent across runs and can land
    * exactly ON a floor-scale boundary (observed: Σ = 805.25 exactly →
    * e6 floor flipped 805249999 ↔ 805250000 between runs), so hashable
    * outputs must use the numerator, not the double. */
  def harmonicCentrality(edges: DataFrame, sources: Seq[Long],
                         maxHops: Int = 64): DataFrame = owned { o =>
    o(taggedBfs(edges, sources, maxHops)).groupBy(col("tag").as("source"))
      .agg(sum(when(col("level") > 0, lit(1.0) / col("level"))
        .otherwise(lit(0.0))).as("harmonic"),
        sum(when(col("level") > 0, expr(s"$HarmonicLcm div level"))
          .otherwise(lit(0L))).cast("long").as("harmonic_num"),
        count(lit(1)).as("n_reached"))
      .orderBy(col("source"))
      .localCheckpoint()
  }

  /** The shared tagged multi-source BFS behind the distance centralities:
    * state is (id, tag, level) — |sources|× the single-source frame, one
    * loop instead of |sources| loops (each round: frontier⋈edges + a
    * min-combine + anti-joins against the LAST TWO frontiers; BFS levels
    * are final on first arrival, so the frontier is exactly the new
    * rows). The undirected frontier rule below is only sound on a
    * SYMMETRIC graph, so the input is symmetrized HERE
    * ([[Prep.makeSymmetric]] — one union+dropDuplicates folded into the
    * edge-checkpoint job, idempotent on already-symmetric input): a
    * programmatic caller handing directed edges gets correct undirected
    * distances instead of silently wrong ones (round-11 guard; the CLI
    * used to symmetrize on the callers' behalf).
    *
    * UNDIRECTED FRONTIER RULE (round-10, the 10×-decade fix): on a
    * symmetric graph |dist(u,t) − dist(v,t)| ≤ 1 across any edge, so a
    * candidate expanded from frontier h can only collide with frontiers
    * h and h−1 — anti-joining those two ROUND-SIZED checkpoints replaces
    * the ball-sized settled anti-join, which silently flipped from a
    * broadcast to a full exchange+sort of the whole reached set every
    * round once the ball outgrew the broadcast threshold (q_graph_
    * neighborhood measured 15.1× on the 10× events decade before this
    * fix — round 10, PLANS.md). It also removes the per-round
    * settled∪next re-checkpoint: each frontier stays its own checkpoint
    * and the settled result is their lazy union.
    *
    * Returns the settled frame: the lazy union of the per-level
    * checkpoints. */
  private[graft] def taggedBfs(edges: DataFrame, sources: Seq[Long],
                               maxHops: Int): DataFrame = owned { o =>
    val s = edges.sparkSession
    import s.implicits._
    val e = o(materialize(Prep.makeSymmetric(edges.select("src", "dst")), AdaptiveHash("src")))
    val src0 = sources.map(x => (x, x, 0L)).toDF("id", "tag", "level")
      .localCheckpoint()
    // state: the per-level checkpoints; a wave that reaches nothing ends
    // the loop and is not kept
    Fixpoint.run(Vector(src0), Fixpoint.inStep[Vector[DataFrame]], maxHops,
        continue = Fixpoint.whileCounting) { (levels, _, _) =>
      val (ck, t) = materialize(wave(e, levels.last, levels.dropRight(1).lastOption,
        "level", col("level") + 1L, min(col("level"))), Stats, lit(true))
      o(ck)
      (if (t.count > 0) levels :+ ck else levels, t)
    }._1.reduce(_ union _)
  }

  /** One wave of a tagged multi-source BFS on a symmetric edge frame `e`
    * under the undirected frontier rule ([[taggedBfs]]): the (id, tag)
    * rows one hop past `frontier` that are in neither `frontier` nor
    * `prev`, the frontier before it, each carrying column `v`, the
    * `combine` of `hop` (over the expanded rows) per (id, tag).
    * Combining BEFORE the anti-joins lets the partial aggregate collapse
    * the |frontier|·deg expansion map-side, so the anti-joins only ever
    * see ≤ |distinct (id, tag)| rows (measured 10× on
    * [[neighborhoodFunction]] at sf0.1). */
  private def wave(e: DataFrame, frontier: DataFrame, prev: Option[DataFrame],
                   v: String, hop: Column, combine: Column): DataFrame = {
    val next = frontier.select(col("id").as("src"), col("tag"), col(v))
      .join(e, Seq("src"))
      .select(col("dst").as("id"), col("tag"), hop.as(v))
      .groupBy(col("id"), col("tag")).agg(combine.as(v))
      .join(frontier.select("id", "tag"), Seq("id", "tag"), "left_anti")
    prev.fold(next)(p => next.join(p.select("id", "tag"), Seq("id", "tag"), "left_anti"))
  }

  /** Exact neighborhood function N(h) over a deterministic 1/sampleMod
    * vertex sample: the number of (source, vertex) pairs at distance
    * ≤ h, for h = 0..maxH — the distance-distribution summary behind
    * effective-diameter estimates (Palmer et al. 2002 ANF; Boldi et al.
    * 2011 HyperANF). Sources are `id % sampleMod = 0` — a DataFrame
    * predicate, never a driver-side id list, so the source set scales
    * with the graph.
    *
    * Per round: frontier⋈edges + a min-combine + anti-joins against the
    * last TWO frontiers — the [[taggedBfs]] undirected frontier rule
    * (the input is symmetrized internally, same round-11 guard as
    * taggedBfs — directed callers get correct undirected N(h), never
    * silently wrong counts): a candidate expanded from frontier h can
    * only collide with frontiers h and h−1, so the anti-join partners
    * are ROUND-SIZED and the growing ball is never shuffled, sorted, or
    * re-checkpointed at all. Before round 10 this anti-joined the whole
    * settled ball, which broadcast at sf0.1 but flipped to a per-round
    * full exchange+sort of the ball at the 10× events decade — measured
    * 15.1× there (round 10, PLANS.md); the frontier rule restores
    * the output-linear bill. The driver sees maxH+1 count scalars.
    * [[anfSketch]] is the constant-state sketch variant for when even
    * the sampled pair frame is too wide (AlgosSpec asserts it tracks
    * this exact operator).
    *
    * SIZE GATE (round-12 verdict task 1): the exact operator's state is
    * inherently PAIR-shaped — on a merged giant component the settled
    * frame approaches sources × vertices, and the round-11 100× probe
    * died on executor DISK EXHAUSTION there, an opaque failure two
    * decades past test scale. Before each wave the loop projects the
    * wave's expansion volume (|frontier| × average degree, the
    * pre-combine row bill that actually spills) on top of the settled
    * total, and fails FAST with an actionable message naming
    * [[anfSketch]] when the projection crosses `maxPairs` (default
    * 2·10⁹ pairs ≈ 50 GB of shuffle state). The projection adds ONE scalar job
    * (a count+approx_count_distinct aggregate over the checkpointed
    * edge frame) to the whole query. */
  def neighborhoodFunction(edges: DataFrame, maxH: Int = 4,
                           sampleMod: Long = 151L,
                           maxPairs: Long = 2000000000L): DataFrame = owned { o =>
    val s = edges.sparkSession
    import s.implicits._
    val e = o(materialize(Prep.makeSymmetric(edges.select("src", "dst")), AdaptiveHash("src")))
    // one scalar job: edge count + approximate vertex count → the
    // average degree the per-wave expansion projection prices with
    val dr = e.agg(count(lit(1)).as("m"),
      approx_count_distinct(col("src")).as("n")).first()
    val avgDeg = math.max(1.0, dr.getLong(0).toDouble / math.max(1L, dr.getLong(1)))
    val frontier0 = o(materialize(
      verticesOf(e).filter(pmod(col("id"), lit(sampleMod)) === 0L)
        .select(col("id"), col("id").as("tag"), lit(0L).as("level")), AdaptiveHash("id")))
    // cumulative N(h); the last wave is its last increment
    var counts = Vector((0L, frontier0.count()))
    // state: (frontier, the frontier before it); round h is hop h
    Fixpoint.run((frontier0, Option.empty[DataFrame]),
        Fixpoint.inStep[(DataFrame, Option[DataFrame])], maxH + 1,
        firstRound = 1) { case ((frontier, prev), h, _) =>
      val lastWave = counts.last._2 - counts.dropRight(1).lastOption.fold(0L)(_._2)
      val projected = counts.last._2 + (lastWave * avgDeg).toLong
      if (projected > maxPairs) {
        throw new IllegalStateException(
          s"neighborhoodFunction: projected settled-pair volume ~$projected " +
            s"at hop $h exceeds maxPairs=$maxPairs. Exact N(h) state is " +
            "PAIR-shaped (sources × ball) and would exhaust executor " +
            "disk at this scale — use graft.graph.Algos.anfSketch " +
            "(constant per-vertex FM registers, spec-asserted against " +
            "this operator), or raise maxPairs / sampleMod.")
      }
      // This count is RESULT data, not loop control: the fused
      // accumulator is at-least-once under task retries, so recount the
      // materialized blocks exactly (a count() over a cached checkpoint
      // is a metadata-cheap job; the loop is fixed-length, so no barrier
      // is saved by fusing here anyway).
      val ck = o(materialize(wave(e, frontier, prev, "level", col("level") + 1L,
        min(col("level"))), Stats))
      counts :+= ((h.toLong, counts.last._2 + ck.count()))
      ((ck, Some(frontier)), Fixpoint.Unmeasured)
    }
    counts.toDF("h", "n_pairs").orderBy(col("h"))
  }

  /** HyperANF-style sketched neighborhood function (Boldi et al. 2011,
    * with Flajolet–Martin bitmap registers instead of HyperLogLog): every
    * vertex carries `numReg` 64-bit FM bitmaps; register j starts with
    * only bit ρ(md5(id:j)) set (ρ = lowest-set-bit index, P(ρ=k)=2⁻ᵏ⁻¹),
    * and one round ORs each vertex's registers with its neighbors'.
    * After h rounds the registers sketch the h-ball, and
    * |ball| ≈ 2^R̄ / 0.77351 over the registers' lowest-zero-bit
    * positions R (Flajolet & Martin 1985). N(h) is the sum of the
    * per-vertex estimates over ALL vertices.
    *
    * This is the 100 TB shape: state is numReg longs per vertex —
    * constant, never pair-shaped — and a round is one edge shuffle with
    * a map-side-combinable bit_or aggregate. Deterministic (md5 seeds),
    * but an ESTIMATOR: it backs [[neighborhoodFunction]] at scale and is
    * therefore spec-asserted against the exact operator, not
    * oracle-gated. Returns (h, n_pairs_est DOUBLE) for h = 0..maxH. */
  def anfSketch(symEdges: DataFrame, maxH: Int = 4, numReg: Int = 64): DataFrame = owned { o =>
    val s = symEdges.sparkSession
    import s.implicits._
    val e = o(materialize(symEdges.select("src", "dst"), AdaptiveHash("src")))
    // register j's initial bitmap: the lowest set bit of a 60-bit md5
    // value (x & -x) — geometric ρ without a count-trailing-zeros builtin
    val seeded = verticesOf(e).select(col("id"),
      transform(sequence(lit(0), lit(numReg - 1)), j => {
        val x = conv(substring(md5(concat(col("id"), lit(":"), j)), 1, 15), 16, 10)
          .cast("long")
        x.bitwiseAND(-x)
      }).as("regs"))
    val init = materialize(seeded, AdaptiveHash("id"))
    // per-register estimate: R = index of the lowest ZERO bit of the
    // union bitmap = log2((~m) & (m+1)); ball ≈ 2^mean(R) / 0.77351
    val estimate = (df: DataFrame) => df.select(
      aggregate(
        transform(col("regs"), m => {
          val lowZero = bitwise_not(m).bitwiseAND(m + lit(1L)).cast("double")
          log2(lowZero)
        }),
        lit(0.0), (acc, r) => acc + r)
        .divide(lit(numReg.toDouble)).as("rbar"))
      .select((pow(lit(2.0), col("rbar")) / lit(0.77351)).as("est"))
      .agg(sum(col("est"))).first().getDouble(0)
    var out = Vector((0L, estimate(init)))
    val (cur, _) = Fixpoint.run(init, Fixpoint.materializing(AdaptiveHash("id")), maxH,
        continue = (r: Fixpoint.Round[DataFrame]) => {
          out :+= ((r.index + 1L, estimate(r.state))); true
        }) { (cur, _, _) =>
      cur.select(col("id").as("src"), col("regs"))
        .join(e, Seq("src"))
        .select(col("dst").as("id"), posexplode(col("regs")).as(Seq("pos", "m")))
        .union(cur.select(col("id"), posexplode(col("regs")).as(Seq("pos", "m"))))
        .groupBy(col("id"), col("pos"))
        .agg(bit_or(col("m")).as("m"))
        .groupBy(col("id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("regs"))
    }
    o(cur)
    out.toDF("h", "n_pairs_est").orderBy(col("h"))
  }

  /** Greedy distributed graph coloring, Jones–Plassmann (1993) style:
    * vertex priorities are md5-derived (deterministic, distinct w.h.p.,
    * ties broken by id so two adjacent vertices can never both win a
    * round); each round every uncolored vertex that is a strict local
    * maximum among its UNCOLORED neighbors takes the smallest color not
    * used by its already-colored neighbors (the mex, computed as a fold
    * over the sorted color set). Converges to a unique fixpoint — the
    * sequential greedy coloring in priority order — so the oracle can
    * unroll it. Expected O(log n) rounds on bounded-degree graphs.
    *
    * Per round: one edge⋈state shuffle for the uncolored-neighbor max,
    * one for the colored-neighbor color sets (collect_set is bounded by
    * the color count ≤ Δ+1, not the degree), state one row per vertex.
    * Returns (id, color). */
  def greedyColoring(symEdges: DataFrame, maxRounds: Int = 64): DataFrame = owned { o =>
    val e = o(materialize(symEdges.select("src", "dst"), AdaptiveHash("src")))
    val init = materialize(verticesOf(e).select(col("id"),
      conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10).cast("long").as("p"),
      lit(null).cast("long").as("color")), AdaptiveHash("id"))
    val uncolored = Fixpoint.counted(init.filter(col("color").isNull).count())
    val (verts, _) = Fixpoint.run(init, Fixpoint.materializing(Hash("id"), col("color").isNull),
        maxRounds, start = Some(uncolored), continue = Fixpoint.whileCounting) { (verts, _, _) =>
      val st = verts.select(col("id").as("dst"), col("p").as("np"), col("color").as("nc"))
      // strongest uncolored neighbor per vertex ((p, id) order)
      val nbrMax = e.join(st, Seq("dst"))
        .filter(col("nc").isNull)
        .groupBy(col("src").as("id"))
        .agg(max(struct(col("np"), col("dst"))).as("mx"))
      val winners = verts.filter(col("color").isNull)
        .join(nbrMax, Seq("id"), "left")
        .filter(col("mx").isNull ||
          struct(col("p").as("np"), col("id").as("dst")) > col("mx"))
        .select(col("id"))
      // mex over the sorted colored-neighbor color set: fold acc=0,
      // acc+1 on every exact hit — first gap wins
      val used = winners.join(e, winners("id") === e("src"))
        .join(st, Seq("dst"))
        .filter(col("nc").isNotNull)
        .groupBy(winners("id"))
        .agg(array_sort(collect_set(col("nc"))).as("cols"))
      val assigned = winners.join(used, Seq("id"), "left")
        .select(col("id"),
          aggregate(coalesce(col("cols"), array().cast("array<long>")),
            lit(0L), (acc, c) => when(c === acc, acc + 1L).otherwise(acc)).as("newc"))
      verts.join(assigned, Seq("id"), "left")
        .select(col("id"), col("p"), coalesce(col("color"), col("newc")).as("color"))
    }
    o(verts).select(col("id"), col("color")).orderBy(col("id")).localCheckpoint()
  }

  /** Distributed maximal matching by mutual proposals (the classic BSP
    * matching round: each unmatched vertex proposes to its strongest
    * unmatched neighbor by md5 priority, mutual proposals match, matched
    * vertices leave the graph). The globally max-priority live vertex is
    * always proposed back by its own pick, so every round matches ≥ 1
    * pair and expected convergence is O(log n). Deterministic (md5
    * priorities, (p, id) tiebreak) → unique fixpoint, oracle-unrollable.
    * Per round: one live-edge⋈priority shuffle + one proposal self-join
    * + one anti-join removal. Returns matched pairs (u, v), u < v. */
  def maximalMatching(symEdges: DataFrame, maxRounds: Int = 30): DataFrame = owned { o =>
    val s = symEdges.sparkSession
    import s.implicits._
    val e = o(materialize(symEdges.select("src", "dst"), AdaptiveHash("src")))
    val prio = o(materialize(verticesOf(e).select(col("id"),
      conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10).cast("long").as("p")),
      AdaptiveHash("id")))
    mutualProposals(e, Seq.empty[(Long, Long)].toDF("u", "v"), maxRounds, col("np").desc)(
      _.join(prio.select(col("id").as("dst"), col("p").as("np")), Seq("dst")))
  }

  /** ½-approximation maximum-WEIGHT matching by mutual heaviest-edge
    * proposals: each round every live vertex points at its max-(w, id)
    * neighbor, mutual proposals marry, matched vertices leave. The
    * weighted sibling of [[maximalMatching]] and the analog of the
    * reference's MWMComputation
    * (giraph-examples/src/main/java/org/apache/giraph/examples/MWMComputation.java).
    * Deterministic (weight then id tiebreak) with a SHARED fixed round
    * cap, so the oracle's unroll reproduces the exact pair set even
    * before full maximality. Returns (u, v, w) matched pairs. */
  def maxWeightMatching(symEdges: DataFrame, maxRounds: Int = 12): DataFrame = owned { o =>
    val s = symEdges.sparkSession
    import s.implicits._
    mutualProposals(o(materialize(symEdges.select("src", "dst", "w"), AdaptiveHash("src"))),
      Seq.empty[(Long, Long, Long)].toDF("u", "v", "w"), maxRounds, col("w").desc)(identity)
  }

  /** The mutual-proposal rounds behind both matchings, over the live
    * edge frame (src, dst, carried columns…): every live vertex picks its
    * first live edge by (`order`, dst desc) over `candidates(live)`,
    * mutual picks marry, and their endpoints leave `live`. `none` is the
    * empty result, (u, v, carried columns…); the result is the union of
    * the per-round matched frames, ordered by u.
    *
    * Each round's matched frame is its own ROUND-SIZED checkpoint and the
    * result their lazy union. The anti-join partner is only THIS round's
    * mutual endpoints: live already excludes every earlier round's
    * endpoints inductively, so anti-joining the full (growing) matched
    * set was redundant work that broadcasts at test scale but flips to a
    * per-round ball exchange past the threshold (the taggedBfs r10 cliff
    * class) — and the matched∪mutual re-checkpoint per round
    * (O(rounds·matched) writes) disappears with it. */
  private def mutualProposals(live0: DataFrame, none: DataFrame, maxRounds: Int, order: Column)(
      candidates: DataFrame => DataFrame): DataFrame = owned { o =>
    val carried = none.columns.drop(2).toSeq
    val edge = (Seq("src", "dst") ++ carried).map(col)
    var rounds = Vector.empty[DataFrame]
    val (live, _) = Fixpoint.run(live0, Fixpoint.materializing(Hash("src"), lit(true)),
        maxRounds, start = Some(Fixpoint.counted(live0.count())),
        continue = Fixpoint.whileCounting) { (live, _, _) =>
      val pick = candidates(live)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(order, col("dst").desc)))
        .filter(col("rn") === 1)
        .select(edge: _*)
      val mutual = o(materialize(pick.as("a")
          .join(pick.as("b"),
            col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
          .filter(col("a.src") < col("a.dst"))
          .select(Seq(col("a.src").as("u"), col("a.dst").as("v")) ++
            carried.map(c => col(s"a.$c").as(c)): _*), Stats))
      rounds :+= mutual
      // dup endpoints are harmless on the anti-join's build side — no
      // distinct pass needed
      val mv = mutual.select(col("u").as("id"))
        .union(mutual.select(col("v").as("id")))
      live.join(mv.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(mv.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
        .select(edge: _*)
    }
    o(live)
    (none +: rounds).reduce(_ union _).orderBy(col("u")).localCheckpoint()
  }

  /** HITS hubs & authorities (Kleinberg 1999, public algorithm) on a
    * directed graph, fixed-iteration L1-normalized variant: per round
    *   a(v) = Σ_{u→v} h(u), normalized to Σa = 1;
    *   h(u) = Σ_{u→v} a(v), normalized to Σh = 1.
    * L1 (not the textbook L2) keeps the arithmetic to sum + divide —
    * both IEEE-correctly-rounded, so a SQL oracle replays it exactly
    * (to the e6 floor; the global Σ is the broadcast-scalar pattern of
    * [[pagerank]]). Fixed iterations, not convergence: the result is a
    * pure function of the graph the oracle can unroll.
    *
    * Scale: per round two edge⋈score shuffles (one per direction) + two
    * scalar aggs; iterated state is one row per vertex, checkpointed
    * with declared hash(id) layout. Returns (id, auth, hub) doubles. */
  def hits(edges: DataFrame, iterations: Int): DataFrame = owned { o =>
    val e = o(materialize(edges.select("src", "dst"), AdaptiveHash("src")))
    // (r15: a hash(dst)-declared edge twin for the hub pull was tried
    // and REVERTED — jobs 71 → 89: at bench scale the measured-stats
    // edge frame broadcasts into that join anyway, so the declared
    // placement bought nothing and its checkpoint + the SMJ-vs-broadcast
    // replans cost 18 extra AQE stage jobs. The per-iteration dst
    // exchange this would remove only exists past the broadcast
    // threshold, where the salsa-style eo/ei twins are the shape to
    // copy if hits iterations ever grow.)
    linkAnalysis(e, e, o(materialize(verticesOf(e), AdaptiveHash("id"))), iterations,
      col("h"), col("a"))
  }

  /** The fixed-iteration L1-normalized link analysis behind [[hits]] and
    * [[salsa]] over the vertex frame `v`, with state (hub, authority):
    * per round the authority of v sums `toAuth` over the out-edges
    * (src, dst, …) `eo` into v, from h(src); the hub of u sums `toHub`
    * over the in-edges `ei` out of u, from the new a(dst); each is
    * L1-normalized and materialized in turn. Returns (id, auth, hub). */
  private def linkAnalysis(eo: DataFrame, ei: DataFrame, v: DataFrame, iterations: Int,
                           toAuth: Column, toHub: Column): DataFrame = owned { o =>
    val h0 = materialize(v.select(col("id"), lit(1.0).as("h")), AdaptiveHash("id"))
    val ((h, a), _) = Fixpoint.run((h0, Option.empty[DataFrame]),
        Fixpoint.inStep[(DataFrame, Option[DataFrame])], iterations) { case ((h, _), _, _) =>
      val araw = v.join(
          eo.join(h.select(col("id").as("src"), col("h")), Seq("src"))
            .groupBy(col("dst").as("id")).agg(sum(toAuth).as("x")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("x"), lit(0.0)).as("a"))
      // (r15: a lazy-aN half-iteration fusion was tried here and
      // REVERTED — hits jobs 71 → 118, salsa 97 → 126, with wall up:
      // under the adaptive AdaptiveHash layout the chained plan
      // re-materializes each internal exchange as its own AQE stage job
      // and rebuilds the normalization broadcasts per reference, costing
      // more driver jobs than the checkpoint it saved.
      // Per-half-iteration materialization stands, consistent with the
      // r13 WaveBatch and r14 textrank findings.)
      val aN = materialize(
        araw.crossJoin(broadcast(araw.agg(sum(col("a")).as("s"))))
          .select(col("id"), (col("a") / col("s")).as("a")), AdaptiveHash("id"))
      val hraw = v.join(
          ei.join(aN.select(col("id").as("dst"), col("a")), Seq("dst"))
            .groupBy(col("src").as("id")).agg(sum(toHub).as("x")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("x"), lit(0.0)).as("h"))
      val hN = materialize(
        hraw.crossJoin(broadcast(hraw.agg(sum(col("h")).as("s"))))
          .select(col("id"), (col("h") / col("s")).as("h")), AdaptiveHash("id"))
      ((hN, Some(aN)), Fixpoint.Unmeasured)
    }
    o(a.get).join(o(h), Seq("id"))
      .select(col("id"), col("a").as("auth"), col("h").as("hub"))
      .orderBy(col("id"))
      .localCheckpoint()
  }

  /** Time-respecting (temporal) reachability: earliest-arrival times
    * from `source` over edges carrying an integral timestamp, where a
    * path may only traverse edges with non-decreasing times — the
    * "when could the contagion have reached v" question static
    * reachability gets wrong (a stale edge cannot forward a newer
    * arrival). arr(v) = min over in-edges (u, v, t) with arr(u) ≤ t of
    * t; min-combine relaxation run a FIXED `rounds` count (monotone
    * recurrence — the unrolled oracle matches round-for-round even
    * short of the fixpoint, as Bracha-Toueg). Same shuffle shape as
    * [[sssp]]: per round one arr⋈edges join + a min agg. */
  def temporalReach(edges: DataFrame, source: Long, rounds: Int): DataFrame = owned { o =>
    val s = edges.sparkSession
    import s.implicits._
    val e = o(materialize(edges.select("src", "dst", "t"), AdaptiveHash("src")))
    Fixpoint.run(Seq((source, 0L)).toDF("id", "arr").localCheckpoint(),
        Fixpoint.checkpointing, rounds) { (a, _, _) =>
      val cand = a.select(col("id").as("src"), col("arr"))
        .join(e, Seq("src")).filter(col("t") >= col("arr"))
        .select(col("dst").as("id"), col("t").as("arr"))
      a.union(cand).groupBy(col("id")).agg(min(col("arr")).as("arr"))
    }._1.orderBy(col("id"))
  }

  /** Source-sampled betweenness centrality (Brandes 2001, public
    * algorithm): bc(v) = Σ_{s ∈ sources} δ_s(v), where δ is Brandes'
    * dependency. Two phases, both level-synchronous:
    *
    *  - FORWARD: the tagged BFS of [[taggedBfs]] extended with the
    *    shortest-path count σ — a vertex first reached in round h+1
    *    takes σ = Σ σ(level-h neighbors), which is exactly a sum over
    *    that round's frontier (every level-h vertex IS in the round-h
    *    frontier), so σ rides the existing frontier⋈edges join for free.
    *  - BACKWARD: levels peel from the deepest up;
    *    δ(v) = Σ_{w: lv(w)=lv(v)+1} (σ_v/σ_w)·(1 + δ_w). Per round one
    *    level-slice⋈edges⋈level-slice join — work ∝ slice size, the
    *    delta-frontier shape again.
    *
    * σ values are exact BIGINTs; δ is the one double chain (÷, +, ×,
    * all correctly rounded on identical operands), so an unrolled SQL
    * oracle replays the recurrence to the floor-scale. Driver traffic:
    * none (max level is driver-known from the per-level checkpoint
    * vector). Sampled sources (not all-pairs) is the
    * standard 100 TB posture — exact Brandes is Θ(|V|·|E|).
    * Returns (id, bc DOUBLE) for every vertex with a nonzero
    * dependency; sources themselves accumulate no δ. Input may be
    * directed: bc is over the UNDIRECTED graph — the forward pass's
    * two-frontier anti-join is only sound on symmetric input, so the
    * edges are symmetrized internally (the round-11 taggedBfs guard;
    * idempotent on already-symmetric input). */
  def betweenness(edges: DataFrame, sources: Seq[Long],
                  maxHops: Int = 32): DataFrame = owned { o =>
    val s = edges.sparkSession
    import s.implicits._
    val e = o(materialize(Prep.makeSymmetric(edges.select("src", "dst")), AdaptiveHash("src")))
    val src0 = o(sources.map(x => (x, x, 0L, 1L)).toDF("id", "tag", "level", "sigma")
      .localCheckpoint())
    // one checkpoint PER LEVEL (levels(h) holds exactly the level-h
    // rows): the forward anti-joins use the [[taggedBfs]] undirected
    // two-frontier rule — a candidate expanded from frontier h can only
    // collide with frontiers h and h−1 on a symmetric graph — so the
    // growing settled ball is never shuffled, sorted, or re-union-
    // checkpointed (the pre-r10 shape broadcast the ball at sf0.1 but
    // flipped to a per-round full exchange+sort past the broadcast
    // threshold — the q_graph_neighborhood 15× decade cliff). The
    // backward pass then indexes its level slices DIRECTLY instead of
    // filtering the ball twice per level, and max(level) is
    // driver-known (one fewer scalar job).
    val levels = Fixpoint.run(Vector(src0), Fixpoint.inStep[Vector[DataFrame]], maxHops,
        continue = Fixpoint.whileCounting) { (levels, h, _) =>
      // sigma-combine BEFORE the anti-joins: dropping a settled (id, tag)
      // group before or after the sum is equivalent — every contribution
      // to a NEW vertex comes from frontier h by the BFS level invariant.
      val (ck, t) = materialize(wave(e, levels.last, levels.dropRight(1).lastOption,
          "sigma", col("sigma"), sum(col("sigma")))
        .select(col("id"), col("tag"), lit((h + 1).toLong).as("level"), col("sigma")),
        Stats, lit(true))
      o(ck)
      (if (t.count > 0) levels :+ ck else levels, t)
    }._1
    // backward accumulation, deepest level first: each level's (id, tag,
    // delta) rows fold from those of the level below it (empty below
    // the deepest level)
    val deltas = (levels.length - 2 to 1 by -1)
      .scanLeft(s.emptyDataset[(Long, Long, Double)].toDF("id", "tag", "delta")) { (deltaUp, l) =>
        val up = levels(l + 1)
          .select(col("id").as("w_id"), col("tag").as("tag_w"), col("sigma").as("sigma_w"))
          .join(deltaUp.select(col("id").as("w_id"), col("tag").as("tag_w"), col("delta")),
            Seq("w_id", "tag_w"), "left")
          .select(col("w_id"), col("tag_w"), col("sigma_w"),
            coalesce(col("delta"), lit(0.0)).as("delta_w"))
        o(levels(l)
          .select(col("id"), col("tag"), col("sigma"))
          .join(e, col("id") === col("src"))
          .join(up, col("dst") === col("w_id") && col("tag") === col("tag_w"))
          .groupBy(col("id"), col("tag"))
          .agg(sum((col("sigma").cast("double") / col("sigma_w"))
            * (lit(1.0) + col("delta_w"))).as("delta"))
          .localCheckpoint())
      }
    deltas.drop(1).reduceOption(_ unionByName _).getOrElse(deltas.head)
      .groupBy(col("id")).agg(sum(col("delta")).as("bc"))
      .orderBy(col("id"))
      .localCheckpoint()
  }

  /** Degree assortativity (Newman 2002, public formula): the Pearson
    * correlation of the degrees at the two ends of an edge, over a
    * symmetric edge list. Every aggregate is an exact BIGINT sum
    * (degrees are integers), so the final double expression
    *   r = (m·Σdudv − Σdu·Σdv) / √((m·Σdu² − Σdu²)·(m·Σdv² − Σdv²))
    * runs on identical scalars in any engine (÷ and √ are both IEEE
    * correctly rounded — the hash-safe subset). One degree agg, one
    * edge⋈degree join, one scalar agg; the BIGINT sums hold to ~10¹⁸
    * (≫ any graph whose degree list fits a warehouse — beyond that the
    * sums move to DECIMAL(38), same plan). Returns one row
    * (m, suv, r DOUBLE). */
  def assortativity(symEdges: DataFrame): DataFrame = {
    val e = symEdges.select("src", "dst")
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    e.join(deg.select(col("id").as("src"), col("d").as("du")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("d").as("dv")), Seq("dst"))
      .agg(count(lit(1)).as("m"), sum(col("du")).as("su"), sum(col("dv")).as("sv"),
        sum(col("du") * col("dv")).as("suv"), sum(col("du") * col("du")).as("suu"),
        sum(col("dv") * col("dv")).as("svv"))
      .select(col("m"), col("suv"),
        // degree-regular graphs zero BOTH variance factors — and on a
        // symmetric edge list su=sv/suu=svv, so a zero denominator
        // forces a zero numerator: r is the indeterminate 0/0, which
        // ANSI division rejects instead of producing IEEE NaN (found by
        // the randomized oracle in exploration mode, round 13). Guard
        // the zero-variance regime explicitly; CaseWhen's lazy branch
        // evaluation keeps the division unexecuted when it fires.
        when(sqrt((col("m") * col("suu") - col("su") * col("su")).cast("double")
            * (col("m") * col("svv") - col("sv") * col("sv")).cast("double")) === 0.0,
          lit(Double.NaN))
        .otherwise((col("m") * col("suv") - col("su") * col("sv")).cast("double")
          / sqrt((col("m") * col("suu") - col("su") * col("su")).cast("double")
            * (col("m") * col("svv") - col("sv") * col("sv")).cast("double"))).as("r"))
  }

  /** Per-community modularity decomposition of a vertex partition over a
    * symmetric edge list: for community c with directed-internal-edge
    * count i2(c) and member degree sum d(c) over m2 directed edges,
    *   contrib(c) = i2(c)/m2 − (d(c)/m2)²
    * (the Newman-Girvan summand; Q = Σ_c contrib). All inputs are exact
    * integer counts and m2 is ONE driver scalar, so both engines divide
    * identical operands — deterministic to the e6 floor. Two shuffles:
    * members⋈degrees and the double label join on the edge list. */
  def modularity(symEdges: DataFrame, communities: DataFrame): DataFrame = owned { o =>
    // the edge list is scanned three times (m2, degrees, label join) —
    // checkpoint so an expensive upstream derivation runs once
    val e = o(symEdges.select("src", "dst").localCheckpoint())
    val m2 = e.count().toDouble // driver scalar (master-collects-scalars)
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val cd = communities.join(deg, Seq("id"), "left")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("d"), lit(0L))).as("deg_sum"))
    val ie = e
      .join(communities.select(col("id").as("src"), col("community").as("cs")), Seq("src"))
      .join(communities.select(col("id").as("dst"), col("community").as("cd2")), Seq("dst"))
      .filter(col("cs") === col("cd2"))
      .groupBy(col("cs").as("community")).agg(count(lit(1)).as("internal2"))
    cd.join(ie, Seq("community"), "left")
      .select(col("community"), col("n_members"),
        coalesce(col("internal2"), lit(0L)).as("internal2"), col("deg_sum"),
        (coalesce(col("internal2"), lit(0L)) / lit(m2)
          - (col("deg_sum") / lit(m2)) * (col("deg_sum") / lit(m2))).as("contrib"))
      .orderBy(col("community"))
      .localCheckpoint()
  }

  /** Synchronous label-propagation community detection: every round each
    * vertex adopts the most frequent label among its in-neighbors (ties →
    * smallest label); vertices with no in-edges keep their label. Run for
    * a FIXED `rounds` count — classic LPA's run-to-convergence is
    * order-dependent and can oscillate on bipartite structure, while
    * fixed rounds + the min-label tie-break make the result a pure
    * function of the graph, so a SQL oracle can unroll it exactly.
    * Reference analog: the label-as-message propagation family of
    * giraph-examples (EX/ConnectedComponentsComputation.java propagates
    * min; here the vertex program is the neighborhood mode).
    *
    * Scale: per round ONE edge⋈label shuffle feeding a two-level
    * aggregation — (id, lbl) count, then per-id argmax via
    * max(struct(c, -lbl)) — both map-side combinable, no window, no
    * per-vertex sort. Iterated state is one (id, lbl) row per vertex,
    * checkpoint-managed with declared hash(id) partitioning so the
    * per-round joins never reshuffle the label frame. */
  def lpa(symEdges: DataFrame, rounds: Int): DataFrame = owned { o =>
    val e = o(materialize(symEdges.select("src", "dst"), AdaptiveHash("src")))
    val init = materialize(verticesOf(e).select(col("id"), col("id").as("lbl")), AdaptiveHash("id"))
    val (l, _) = Fixpoint.run(init, Fixpoint.materializing(AdaptiveHash("id")), rounds) {
        (l, _, _) =>
      val counts = e.join(l.select(col("id").as("src"), col("lbl")), Seq("src"))
        .groupBy(col("dst").as("id"), col("lbl")).agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc) without a window: struct max
      // compares fields left-to-right, so (c, -lbl) max = mode-min-label
      val pick = counts
        .groupBy(col("id"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("id"), (-col("m.neg")).as("nl"))
      l.join(pick, Seq("id"), "left")
        .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"))
    }
    l.withColumnRenamed("lbl", "community")
  }

  /** "People you may know": for a bipartite src→dst graph, rank src pairs
    * by shared-neighbor count (candidates are never existing edges in a
    * bipartite graph). Returns the global top-k with (cnt desc, u, v)
    * deterministic ordering.
    *
    * Scale control: a hub dst with c in-neighbors emits c² candidate
    * pairs, so `maxFanIn` > 0 pre-prunes each dst to its top-`maxFanIn`
    * in-neighbors by relationship strength (`cnt` desc, src asc — fully
    * deterministic, replayable by a QUALIFY oracle). That bounds
    * per-vertex work at maxFanIn² — the standard production PYMK
    * candidate cap — while 0 keeps the exact unbounded semantics. */
  def triangleClosing(edges: DataFrame, topK: Int, maxFanIn: Int = 0): DataFrame = {
    val e =
      if (maxFanIn > 0) {
        val w = Window.partitionBy(col("dst")).orderBy(col("cnt").desc, col("src"))
        edges.select(col("src"), col("dst"), col("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= maxFanIn)
          .select(col("src"), col("dst"))
      } else edges.select(col("src"), col("dst"))
    e.as("a").join(e.as("b"), col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("u"), col("b.src").as("v"))
      .agg(count(lit(1)).as("common"))
      .orderBy(col("common").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** Unipartite link prediction on an undirected pair graph (u < v):
    * score every NON-edge at distance 2 by common-neighbor count plus
    * the preferential-attachment product deg(u)·deg(v) (Liben-Nowell &
    * Kleinberg 2003, public formulations — both scores exact integers,
    * no log weights, so the oracle hash-matches).
    *
    * Scale: candidates come from the wedge join through each center
    * vertex — work ∝ Σ deg(w)², so centers above `maxMidDeg` are
    * excluded from wedge GENERATION (the standard hub cap, same
    * discipline as contamination's maxDf; scores become "common
    * neighbors of degree ≤ cap", replayed identically by the oracle).
    * True degrees for the PA term still come from the full graph. One
    * wedge join + one anti-join against the edge set + two broadcast
    * degree joins. */
  def linkPredict(pairs: DataFrame, maxMidDeg: Long): DataFrame = {
    val sym = pairs.select(col("u").as("a"), col("v").as("b"))
      .union(pairs.select(col("v").as("a"), col("u").as("b")))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("d"))
    val capped = sym.join(deg.filter(col("d") <= maxMidDeg), Seq("a"))
      .select(col("a"), col("b"))
    val cn = capped.as("x")
      .join(capped.as("y"), col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .groupBy(col("x.b").as("u"), col("y.b").as("v"))
      .agg(count(lit(1)).as("cn"))
    cn.join(pairs, Seq("u", "v"), "left_anti")
      .join(deg.select(col("a").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("a").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("cn"), (col("du") * col("dv")).as("pa"))
  }

  /** Katz-style attenuated path-count centrality with EXACT integer
    * attenuation: x₀ = S, x_{k+1}(v) = S + (Σ_{u→v} x_k(u)) div A with
    * scale S = 10⁶ and attenuation divisor A (α = 1/A; Katz 1953,
    * public formulation). The floored-integer recurrence is the
    * deterministic contract — both engines replay the identical BIGINT
    * chain, sidestepping the cross-engine double-accumulation drift a
    * float Katz would carry. A must exceed the principal eigenvalue
    * (≈ mean in-degree here) for the usual convergence reading; the
    * fixed round count makes the output well-defined either way.
    * Scale: per round ONE edge⋈state shuffle + one agg — the PageRank
    * shuffle shape, state one row per vertex. */
  def katz(edges: DataFrame, rounds: Int, attenDiv: Long = 4096L,
           scale: Long = 1000000L,
           opts: PregelOptions = PregelOptions()): DataFrame = owned { o =>
    val e = o(materialize(edges.select("src", "dst"), AdaptiveHash("src")))
    val v = o(verticesOf(e).persist(StorageLevel.MEMORY_AND_DISK))
    val init = v.withColumn("x", lit(scale))
    val res = Pregel.iterate(init, rounds, opts) { (verts, _) =>
      val sums = verts.join(e, col("id") === col("src"))
        .groupBy(col("dst")).agg(sum(col("x")).as("s"))
      verts.drop("x").join(sums, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(scale) + expr(s"coalesce(s, 0L) div $attenDiv")).as("x"))
    }
    res.select(col("id"), col("x").as("katz_scaled"))
  }

  /** Bow-tie decomposition (Broder et al. 2000, the classic web-graph
    * macro-structure): vertices classified against the LARGEST SCC —
    * `core` (in it), `in` (reach it), `out` (reached from it), `other`
    * (neither). Composes [[scc]] with two [[reachable]] delta-frontier
    * loops (forward and on reversed edges) seeded by the core — per
    * wave the edge join expands the FRESH frontier only, one fused
    * checkpoint+fresh-count job per wave, so the loop exits the moment
    * the frontier empties; driver traffic is one convergence scalar per
    * wave. (Pre-r10 this used a private ball
    * loop that re-expanded and re-distincted the whole reached set
    * every wave — the growing-frame class; on the ring fixture it read
    * flat only because the core reach converges in O(1) waves.) A
    * vertex reaching AND reached by the core is in the core SCC by
    * definition, so the four classes partition the vertex set. */
  def bowtie(edges: DataFrame, opts: PregelOptions = PregelOptions()): DataFrame = owned { o =>
    val e = o(materialize(edges.select("src", "dst"), AdaptiveHash("src")))
    val comp = o(scc(e, opts))
    val core = comp.groupBy(col("comp")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("comp")).limit(1).select(col("comp"))
    val coreSet = o(comp.join(broadcast(core), Seq("comp")).select(col("id"))
      .localCheckpoint())

    // Int.MaxValue: bow-tie classification is a TRUE fixpoint (a vertex
    // 51 hops up a tendril is still "in") — reachable's per-wave fused
    // convergence count makes the unbounded loop exact and job-minimal,
    // and its size-gated hint keeps the SCC-sized wave-1 frontier off
    // the broadcast path (code-review r10 findings 2+3)
    val fwd = o(reachable(coreSet, e, Int.MaxValue))
    // The backward reach joins the TRANSPOSED edges on "src" every wave.
    // A plain projection of `e` carries e's declared hash(original src)
    // partitioning — which is hash(dst) of the reversed frame, the WRONG
    // key — so every non-broadcast wave paid a full edge exchange
    // (round-10 verdict, minor finding). Re-materializing through
    // AdaptiveHash declares hash(new src): one extra checkpoint job buys
    // exchange-free edge sides on all large-frontier waves.
    val rev = o(materialize(
      e.select(col("dst").as("src"), col("src").as("dst")), AdaptiveHash("src")))
    val bwd = o(reachable(coreSet, rev, Int.MaxValue))
    verticesOf(e)
      .join(coreSet.withColumnRenamed("id", "cid"), col("id") === col("cid"), "left")
      .join(bwd.withColumnRenamed("id", "bid"), col("id") === col("bid"), "left")
      .join(fwd.withColumnRenamed("id", "fid"), col("id") === col("fid"), "left")
      .select(col("id"),
        when(col("cid").isNotNull, lit("core"))
          .when(col("bid").isNotNull, lit("in"))
          .when(col("fid").isNotNull, lit("out"))
          .otherwise(lit("other")).as("cls"))
      .localCheckpoint()
  }

  /** Maximal independent set, deterministic id-priority variant of the
    * reference's DistributedIndependentSet
    * (BLOCK8 .../algo/DistributedIndependentSet.java:53-118): a vertex
    * enters the set when its id is smaller than every still-undecided
    * neighbor; its neighbors then leave. st: 0=undecided, 1=in, 2=out. */
  def independentSet(symEdges: DataFrame,
                     opts: PregelOptions = PregelOptions(maxSupersteps = 40)): DataFrame = owned { o =>
    val e = o(symEdges.select("src", "dst").repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val init = verticesOf(e).select(col("id"), lit(0).as("st"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val undecided = Fixpoint.counted(init.count())
    // the undecided-count rides the checkpoint job (fused accumulator)
    val (verts, _) = Fixpoint.run(init, Fixpoint.materializing(Stats, col("st") === 0),
        opts.maxSupersteps, start = Some(undecided),
        continue = Fixpoint.whileCounting) { (verts, _, _) =>
      val unk = verts.filter(col("st") === 0)
      val minNbr = e.join(unk.select(col("id").as("dst")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("dst")).as("min_unk_nbr"))
      val ins = unk.join(minNbr, Seq("id"), "left")
        .filter(col("min_unk_nbr").isNull || col("id") < col("min_unk_nbr"))
        .select(col("id"))
      val outs = e.join(ins.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
      verts
        .join(ins.withColumn("is_in", lit(1)), Seq("id"), "left")
        .join(outs.withColumn("is_out", lit(1)), Seq("id"), "left")
        .select(col("id"),
          when(col("st") =!= 0, col("st"))
            .when(col("is_in") === 1, lit(1))
            .when(col("is_out") === 1, lit(2))
            .otherwise(lit(0)).as("st"))
    }
    verts.select(col("id"), (col("st") === 1).cast("int").as("in_set"))
  }

  /** k-core: iteratively peel vertices of degree < k until stable
    * (unique fixpoint). Input symmetric; returns surviving vertices with
    * their in-core degree. The degenerate-graph-cleaning companion to
    * Prep.removeStandAloneVertices (1-core). */
  def kCore(symEdges: DataFrame, k: Int,
            opts: PregelOptions = PregelOptions(maxSupersteps = 40)): DataFrame = {
    val init = symEdges.select("src", "dst").localCheckpoint()
    val edgeCount = Fixpoint.counted(init.count())
    // edge-count rides the checkpoint job (fused accumulator); stable
    // once a round drops no edge
    val (e, _) = Fixpoint.run(init, Fixpoint.materializing(Stats, lit(true)),
        opts.maxSupersteps, start = Some(edgeCount),
        continue = (r: Fixpoint.Round[DataFrame]) =>
          r.tally.count != r.prev.count && r.tally.count > 0) { (e, _, _) =>
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("id"))
      e.join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
    }
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")).orderBy(col("id"))
  }

  /** AND-model deadlock detection on a wait-for graph: a vertex is
    * deadlocked iff it can reach a cycle (every dependency chain from it
    * is stuck). Computed as: SCC → cyclic core (components of size ≥ 2 +
    * self-loops) → backward reachability from the core. The reference's
    * analog is EX/BrachaTouegDeadlockComputation.java (the OR/N-of-M
    * model); the AND model is the classic wait-for special case.
    * Returns (id, deadlocked INT). */
  def deadlock(edges: DataFrame, opts: PregelOptions = PregelOptions()): DataFrame = owned { o =>
    val e = edges.select("src", "dst")
    val comp = o(scc(e, opts))
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
    val cyclic = comp.join(sizes, Seq("comp")).filter(col("sz") >= 2).select(col("id"))
      .union(e.filter(col("src") === col("dst")).select(col("src").as("id")))
      .distinct()
    // membership flows backward: edge v→u means v waits on u, so u's
    // deadlock reaches v via the reversed edge. Delta-frontier
    // reachability (one small job per wave) instead of a full-vertex
    // Pregel loop — the reach is monotone-set, so the frontier shape
    // applies exactly.
    val reversed = o(e.select(col("dst").as("src"), col("src").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val dl = reachable(cyclic, reversed, opts.maxSupersteps)
    verticesOf(e)
      .join(dl.withColumn("d", lit(1)), Seq("id"), "left")
      .select(col("id"), coalesce(col("d") === 1, lit(false)).cast("int").as("deadlocked"))
  }

  /** Bracha-Toueg deadlock detection — the OR / N-of-M request model
    * (EX/BrachaTouegDeadlockComputation.java:61-178, message-passing form;
    * EX/utils/BrachaTouegDeadlockVertexValue.java:204-250 for the
    * per-tag request bookkeeping). The wait-for graph carries a `tag`
    * per edge: a vertex's out-edges with one tag form ONE request that
    * is satisfied only when ALL its targets grant (AND within a tag);
    * the vertex is freed by ANY satisfied request (OR across tags).
    *
    * The async NOTIFY/GRANT/ACK/DONE message machinery exists to detect
    * termination without a coordinator; under BSP the same result is the
    * least fixpoint (each superstep = one synchronized message wave):
    *   notified = forward reachability from the initiator (NOTIFY wave,
    *     compute():101-114);
    *   free(u)  = (notified(u) ∧ u holds no requests)         — the
    *     notified-sink base case, notifyVertices():319-325 —
    *     ∨ (∃ tag t: ∀ w ∈ targets(u, t): free(w))             — the
    *     GRANT cascade, handleGrantMessage():398-416, which fires with
    *     no notified check, so freeness crosses un-notified vertices.
    * Both phases run ≤ `rounds` waves; the DuckDB oracle unrolls the
    * identical recurrence, so partial fixpoints match round-for-round.
    * Both phases are delta-frontier loops (the SSSP shape): per round
    * only the vertices that changed last round join their incident
    * edges, so per-round work ∝ frontier degree, not graph size —
    * shuffle-bound, scalars only on the driver.
    *
    * Returns (id, notified INT, free INT); the initiator is deadlocked
    * iff its free = 0. */
  def brachaToueg(edges: DataFrame, initiator: Long,
                  rounds: Int = 20): DataFrame = owned { o =>
    val spark = edges.sparkSession
    import spark.implicits._
    val e = o(edges.select(col("src"), col("dst"), col("tag"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // one endpoint pass yields every id set the algorithm needs (vertex
    // universe, request holders, wait targets) — one aggregation job
    // instead of three distincts + a union
    val ends = o(e.select(explode(array(
        struct(col("src").as("id"), lit(true).as("s")),
        struct(col("dst").as("id"), lit(false).as("s")))).as("x"))
      .select(col("x.id").as("id"), col("x.s").as("s"))
      .groupBy(col("id"))
      .agg(bool_or(col("s")).as("is_src"), bool_or(!col("s")).as("is_dst"))
      .localCheckpoint())
    val srcIds = ends.filter(col("is_src")).select("id")
    val dstIds = ends.filter(col("is_dst")).select("id")
    val verts = ends.select("id")
    // Peel pure requesters (in-degree 0 — nobody waits on them, nothing
    // notifies them): their out-edges can never fire in either phase, so
    // both waves iterate over the in-degree-≥1 core only. Their freeing
    // can never trigger another grant either, so by monotonicity their
    // f_rounds membership equals a ONE-SHOT evaluation against
    // f_{rounds-1} after the loop. In a bipartite request graph (the
    // common shape: clients waiting on resource holders) this shrinks the
    // per-round state to the resource core — here 588k edges → 4k.
    val eCore = o(e.join(broadcast(dstIds.select(col("id").as("src"))),
        Seq("src"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK))
    val ePeeled = e.join(broadcast(dstIds.select(col("id").as("src"))),
      Seq("src"), "left_anti")
    // the initiator may itself be a pure source; its out-edges still fire
    val eNotify = eCore.select("src", "dst")
      .union(e.filter(col("src") === initiator).select("src", "dst"))
    // Phase 1 — NOTIFY wave: forward reachability from the initiator in
    // ≤ `rounds` hops, in delta-frontier form (see [[reachable]]) — the
    // same n_i recurrence the oracle's unrolled CTEs replay, one small
    // job per wave instead of a full-vertex-frame Pregel superstep.
    val notified = o(reachable(Seq(initiator).toDF("id"), eNotify, rounds))
    // Phase 2 — GRANT cascade to fixpoint, delta-frontier form: instead
    // of re-aggregating every (src, tag) group against the full free set
    // each round, keep a per-(src, tag) unmet-target counter and
    // decrement it with only the vertices freed in the *previous* round
    // (the SSSP shape — per-round work ∝ frontier in-degree, not graph
    // size).
    // The recurrence is unchanged — free_i = free_{i-1} ∪ {src | ∃ tag:
    // targets(src,tag) ⊆ free_{i-1}} — because free grows monotonically,
    // frontiers are disjoint, and (src, dst) pairs are unique (one edge =
    // one request), so every edge decrements its group exactly once.
    val f0 = o(notified
      .join(srcIds, Seq("id"), "left_anti")
      .localCheckpoint())
    var frontier: DataFrame = f0
    var freed = Vector[DataFrame](f0) // disjoint by construction
    // cnt holds one (src, tag, unmet) row per still-unsatisfied request
    // group; when a group hits 0 its src is newly-free, and ALL groups of
    // that src are dropped — so a src is emitted exactly once and the
    // loop never re-joins against the full free set. One checkpoint job
    // per round: `newly` stays a lazy filter+distinct over the round's
    // checkpointed counter frame, folding into the NEXT round's job (and
    // the final output union) instead of paying its own; the convergence
    // check runs every `WaveBatch` rounds (post-fixpoint rounds are
    // no-ops, so the oracle's unrolled f_i CTEs still match). Frontier,
    // decrement, and newly-freed frames are frontier-sized — explicit
    // broadcast hints keep every per-round join shuffle-free on the big
    // side (checkpoint leaves have no stats for Catalyst to see that).
    // every checkpointed counter frame stays referenced by that round's
    // lazy `newly` filter in `freed` until the output materializes
    var cnt = o(eCore.groupBy(col("src"), col("tag")).agg(count(lit(1)).as("unmet"))
      .localCheckpoint())
    var granting = true
    var i = 0
    while (granting && i < rounds) {
      val k = math.min(WaveBatch, rounds - i)
      (0 until k).foreach { _ =>
        // left_semi: a frontier with duplicate ids (one src freed via two
        // tags at once) must not double-decrement — semi matches each
        // edge at most once, which also lets `newly` skip a distinct
        // (free-set dedup happens once, at the final output)
        val dec = eCore.join(broadcast(frontier.select(col("id").as("dst"))),
            Seq("dst"), "left_semi")
          .groupBy(col("src"), col("tag")).agg(count(lit(1)).as("d"))
        val cntNext = o(cnt.join(broadcast(dec), Seq("src", "tag"), "left")
          .select(col("src"), col("tag"),
            (col("unmet") - coalesce(col("d"), lit(0L))).as("unmet"))
          .localCheckpoint())
        val newly = cntNext.filter(col("unmet") === 0)
          .select(col("src").as("id"))
        cnt = cntNext.filter(col("unmet") > 0)
          .join(broadcast(newly.select(col("id").as("src"))), Seq("src"), "left_anti")
        frontier = newly
        freed :+= newly
      }
      i += k
      granting = frontier.count() > 0
    }
    // Peeled-requester evaluation against f_{rounds-1}. Dropping the last
    // appended frame is exact in both exit modes: on convergence the last
    // frontier is empty (that emptiness ended the loop); on budget
    // exhaustion (i == rounds) the peeled recurrence judges f_rounds
    // membership against f_{rounds-1}, which is precisely freed minus the
    // final round's newly-freed set.
    // free = disjoint union of the per-round newly-freed frames plus the
    // peeled requesters; only read once, by the final output join below
    val free =
      if (freed.size <= 1) freed.head // rounds == 0: f_0 = notified sinks
      else {
        // distinct: per-round newly frames may repeat a src (two tags
        // zeroing at once) — deduped once here, not per round. The left
        // join below counts matches per edge, so its build side must be
        // unique ids.
        val coreFreePrev = freed.dropRight(1).reduce(_ union _).distinct()
        val peeledFree = ePeeled
          .join(broadcast(coreFreePrev.select(col("id").as("dst"), lit(1).as("g"))),
            Seq("dst"), "left")
          .groupBy(col("src"), col("tag"))
          .agg((count(lit(1)) === count(col("g"))).as("ok"))
          .filter(col("ok")).select(col("src").as("id"))
        (freed :+ peeledFree).reduce(_ union _).distinct()
      }
    verts
      .join(notified.withColumn("nn", lit(1)), Seq("id"), "left")
      .join(free.withColumn("ff", lit(1)), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("nn"), lit(0)).cast("int").as("notified"),
        coalesce(col("ff"), lit(0)).cast("int").as("free"))
      .localCheckpoint()
  }

  /** Strongly connected components via forward-backward coloring (the
    * scalable label-propagation SCC; the reference runs a 4-phase master
    * state machine, EX/scc/SccComputation.java +
    * SccPhaseMasterCompute.java:54-98 TRANSPOSE→TRIM→FWD→BWD).
    * Each round: (1) forward max-id color fixpoint on the unassigned
    * subgraph; (2) backward sweep from each root r = {v: color v == v}
    * along reversed edges restricted to color-r vertices; matched
    * vertices form SCC(r) (labeled r = max id in the SCC) and leave the
    * graph. Outer rounds ≤ #distinct SCC "levels"; all per-round work is
    * joins/aggs — nothing driver-side but scalar counts. */
  def scc(edges: DataFrame, opts: PregelOptions = PregelOptions()): DataFrame = owned { o =>
    val spark = edges.sparkSession
    import spark.implicits._
    // localCheckpoint (not persist) across OUTER rounds: persist keeps
    // the LOGICAL plan, and each round's remainder frame nests the
    // previous round's joins — after ~10 peel rounds Catalyst's
    // sizeInBytes estimation multiplies BigInt sizes over the nested
    // join tree until the driver burns minutes in BigInteger.multiply
    // and dies with "BigInteger would overflow supported range"
    // (reproduced by IndependentOracleSpec's many-round tangle fixture).
    // Checkpointing truncates the plan per round — the repo's own
    // iterate-eagerly rule, applied to the outer loop too.
    val remEdges0 = edges.select("src", "dst").transform(materialize(_, Stats))
    val remVerts0 = verticesOf(remEdges0).transform(materialize(_, Stats))
    // per-round assigned sets stay their OWN checkpoints and the result
    // is their lazy union (taggedBfs r10 discipline): the old
    // result∪assigned re-checkpoint wrote the growing result ball every
    // round — O(rounds·|V|) churn that buys nothing, since the rounds'
    // sets are disjoint by construction.
    var assignedRounds = Vector.empty[DataFrame]
    // state: (remaining vertices, remaining edges); the tally is the
    // remaining vertex count
    val ((remVerts, remEdges), _) = Fixpoint.run((remVerts0, remEdges0),
        Fixpoint.inStep[(DataFrame, DataFrame)], 64,
        start = Some(Fixpoint.counted(remVerts0.count())),
        continue = Fixpoint.whileCounting) { case ((remVerts, remEdges), _, _) => owned { r =>
      // (1) forward max-id color propagation to fixpoint, with pointer
      // jumping: color(v) = max id that reaches v. If w = color(v)
      // (w reaches v) and x = color(w) (x reaches w) then x reaches v,
      // so the grandparent term color(color(v)) is a sound candidate —
      // label-tree depth halves per round and convergence is O(log n)
      // rounds instead of O(longest path) (a long ring cycle needs its
      // full length in plain-propagation supersteps). Same unique
      // fixpoint, same per-round shape as wcc's FastSV loop.
      // changed-count fused into the checkpoint job (one barrier/round)
      val (f, _) = Fixpoint.run(
          remVerts.select(col("id"), col("id").as("f_old"), col("id").as("lbl"))
            .transform(materialize(_, Stats)),
          Fixpoint.materializing(Stats, col("lbl") > col("f_old")), opts.maxSupersteps,
          continue = Fixpoint.whileCounting) { (f, _, _) =>
        val m1 = remEdges
          .join(f.select(col("id").as("src"), col("lbl").as("ls")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(max(col("ls")).as("m1"))
        val gp = f.select(col("id").as("gid"), col("lbl").as("gf"))
        f.join(m1, Seq("id"), "left")
          .join(gp, col("lbl") === col("gid"), "left")
          .select(col("id"), col("lbl").as("f_old"),
            greatest(col("lbl"), col("m1"), col("gf")).as("lbl"))
      }
      // f, its persisted copy colors, colored and swept are this round's
      // temporaries
      r(f)
      val colors = r(f.select(col("id"), col("lbl").as("color"))
        .persist(StorageLevel.MEMORY_AND_DISK))
      // (2) backward sweep within same-color subgraph, seeded at roots.
      // Within one color class every vertex carries the same color c and
      // the unique root is vertex c itself, so the swept label IS the
      // vertex's color — the sweep reduces to monotone-set reachability
      // (delta-frontier, one small job per wave) + a color lookup,
      // instead of a full-vertex label-propagation Pregel loop.
      // persist, NOT AdaptiveHash (round-11 A/B): declaring hash(src) on
      // this transposed frame was tried and REVERTED — it adds an
      // unconditional exchange+materialization per outer round (+4 jobs,
      // +1.5 s at sf0.1) that only pays for itself when several sweep
      // waves take the non-broadcast join path, and the sweep's
      // frontiers shrink below the broadcast gate after wave 1, so the
      // saved edge-side exchanges never materialized (1.48× at the 10×
      // decade either way; bowtie's reversed frame is the case where
      // the trade DOES pay — its seed is the giant core every time).
      val colored = r(remEdges
        .join(colors.select(col("id").as("src"), col("color").as("c_src")), Seq("src"))
        .join(colors.select(col("id").as("dst"), col("color").as("c_dst")), Seq("dst"))
        .filter(col("c_src") === col("c_dst"))
        // reversed: membership flows from dst (closer to root) to src
        .select(col("dst").as("src"), col("src").as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK))
      val roots = colors.filter(col("id") === col("color")).select(col("id"))
      val swept = r(reachable(roots, colored, opts.maxSupersteps))
      val assigned = swept
        .join(colors, Seq("id"))
        .select(col("id"), col("color").as("comp"))
        .transform(materialize(_, Stats))
      assignedRounds :+= assigned
      // remainder-count fused into the remainder checkpoint job
      val (newVerts, remaining) = materialize(
          remVerts.join(assigned.select("id"), Seq("id"), "left_anti"), Stats, lit(true))
      val newEdges = remEdges
        .join(newVerts.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(newVerts.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .transform(materialize(_, Stats))
      ((newVerts, newEdges), remaining)
    }}
    o(remVerts); o(remEdges)
    (Seq.empty[(Long, Long)].toDF("id", "comp") +: assignedRounds)
      .reduce(_ union _)
  }

  /** Rich-club connectivity curve φ(k) = 2·E_k / (N_k·(N_k−1)) over an
    * undirected graph given as canonical pairs (u < v): for each degree
    * threshold k, the density of the subgraph induced on vertices with
    * degree > k. The classic "do hubs preferentially interlink" panel
    * (reference analogue: the degree-distribution aggregator family,
    * giraph-examples SimpleVertexWithWorkerContext-style statistics —
    * recast as two tiny fan-out aggregations). Scale: degrees once, two
    * joins to annotate edges, then a ≤|ks|-way fan-out of edge/vertex
    * frames into |ks|·2 counting rows — no per-k rescan of the input.
    * φ is emitted floor-scaled e6; thresholds with N_k < 2 report 0. */
  def richClub(pairs: DataFrame, ks: Seq[Long]): DataFrame = owned { o =>
    val e = o(pairs.select(col("u"), col("v")).localCheckpoint())
    val deg = o(pairDegrees(e).localCheckpoint())
    val kArr = array(ks.map(lit): _*)
    val ek = e
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(explode(kArr).as("k"), col("du"), col("dv"))
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_k"))
    val nk = deg
      .select(explode(kArr).as("k"), col("d"))
      .filter(col("d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_k"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_k"), coalesce(col("e_k"), lit(0L)).as("e_k"),
        when(col("n_k") >= 2,
          expr("(e_k * 2000000) div (n_k * (n_k - 1))")).otherwise(lit(0L))
          .cast("long").as("phi_e6"))
      .localCheckpoint()
  }

  /** Local-bridge census: a local bridge is an edge whose endpoints have
    * NO common neighbor (span > 2) — deleting it lengthens every
    * u–v path; these are the weak ties that hold communities together.
    * Identified as the support-0 edges of the [[kTruss]] support pass
    * (degree-oriented triangle credit, output-linear — never a wedge
    * intermediate), so the census costs exactly one support computation.
    * Returns one row: edge count, bridge count, floor-scaled share. */
  def localBridgeStats(pairs: DataFrame): DataFrame = owned { o =>
    o(edgeSupport(o(pairs.select(col("u"), col("v")).localCheckpoint()))).agg(
      count(lit(1)).as("n_edges"),
      sum(when(col("support") === 0L, 1L).otherwise(0L)).cast("long").as("n_bridges"))
      .select(col("n_edges"), col("n_bridges"),
        expr("(n_bridges * 1000000) div n_edges").as("pct_e6"))
      .localCheckpoint()
  }

  /** Iterative leaf-trimming (the k=2 onion): for `rounds` fixed
    * supersteps, peel every vertex of degree ≤ 1 (isolated vertices
    * included — they are the previous round's newly-stranded leaves) and
    * report how many fell in each round, plus the surviving 2-core-ish
    * remainder as round 0. The peel depth is the tree-ness profile of
    * the graph — how much of it is pendant filament vs cyclic core
    * (reference analogue: the degree-filtering superstep loop of k-core,
    * giraph-examples' SimpleMutateGraph peel pattern).
    *
    * Scale: each round is one degree aggregation + two anti-joins, all
    * on the shrinking edge frame; iterated state is checkpoint-managed;
    * the driver sees only per-round counts. Fixed round count keeps the
    * oracle an exact unroll. */
  def leafPeelCounts(edges: DataFrame, rounds: Int): DataFrame = owned { o =>
    val s = edges.sparkSession
    import s.implicits._
    val e0 = edges.select(col("src"), col("dst")).localCheckpoint()
    val verts0 = e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct().localCheckpoint()
    val counts = Seq.newBuilder[(Long, Long)]
    // state: (edges, vertices); round r is peel round r
    val ((e, verts), _) = Fixpoint.run((e0, verts0), Fixpoint.inStep[(DataFrame, DataFrame)],
        rounds + 1, firstRound = 1) { case ((e, verts), r, _) => owned { rs =>
      val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
      // the peel size is RESULT data (not loop control — the round count
      // is fixed), so count the materialized blocks exactly rather than
      // ride an at-least-once accumulator that task retries can inflate
      val peeled = rs(materialize(verts.join(deg, Seq("id"), "left")
          .filter(coalesce(col("d"), lit(0L)) <= 1)
          .select(col("id")), Stats))
      counts += ((r.toLong, peeled.count()))
      val pv = verts.join(peeled, Seq("id"), "left_anti").localCheckpoint()
      val pe = e.join(peeled.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(peeled.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst")).localCheckpoint()
      ((pe, pv), Fixpoint.Unmeasured)
    }}
    counts += ((0L, o(verts).count()))
    o(e)
    counts.result().toDF("round", "n_vertices")
  }

  /** Bipartite butterfly (2×2 biclique) census over (left, right) edges:
    * wedges are enumerated from the LEFT side (each left vertex emits
    * C(d,2) right-pairs), grouped on the right-pair key, and
    * B = Σ C(c,2) — the standard side-choosing butterfly algorithm
    * (Sanei-Mehri et al. 2018). The caller picks the wedge side: pivot
    * on the side whose Σ C(d,2) is smaller AND whose opposite side is
    * small enough that the pair-key space collapses under map-side
    * combine (here: customers pivot, supplier-pair keys ≤ |S|²).
    * Output one row: left/right vertex counts, wedge count, butterflies.
    * All exact integers. */
  def butterflyCount(edges: DataFrame): DataFrame = owned { o =>
    val e = o(edges.select(col("l"), col("r")).distinct().localCheckpoint())
    val nl = e.select(col("l")).distinct().count()
    val nr = e.select(col("r")).distinct().count()
    val wedges = e.groupBy(col("l")).agg(count(lit(1)).as("d"))
      .agg(sum(expr("(d * (d - 1)) div 2")).cast("long").as("n_wedges"))
    val rp = e.as("x").join(e.as("y"),
        col("x.l") === col("y.l") && col("x.r") < col("y.r"))
      .groupBy(col("x.r").as("r1"), col("y.r").as("r2"))
      .agg(count(lit(1)).as("c"))
    val bf = rp.agg(coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L))
      .cast("long").as("n_butterflies"))
    wedges.crossJoin(bf)
      .select(lit(nl).as("n_left"), lit(nr).as("n_right"),
        col("n_wedges"), col("n_butterflies"))
      .localCheckpoint()
  }

  /** Joint degree matrix in log₂ buckets: every edge lands in the cell
    * (⌊log₂ d_u⌋, ⌊log₂ d_v⌋) with the bucket pair canonicalized
    * low≤high — the assortativity panel itemized (who links to whom, by
    * degree class). Bitlength identity keeps it libm-free and
    * engine-exact. Output ≤ ⌈log₂ d_max⌉² rows whatever the input. */
  def jointDegreeMatrix(pairs: DataFrame): DataFrame = owned { o =>
    val e = o(pairs.select(col("u"), col("v")).localCheckpoint())
    val deg = pairDegrees(e)
    e
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select((length(bin(col("du"))) - 1).cast("long").as("bu0"),
        (length(bin(col("dv"))) - 1).cast("long").as("bv0"))
      .select(least(col("bu0"), col("bv0")).as("b_lo"),
        greatest(col("bu0"), col("bv0")).as("b_hi"))
      .groupBy(col("b_lo"), col("b_hi")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // ≤ log²(d_max) rows
  }

  /** SALSA (Lempel–Moran): the random-walk cousin of [[hits]] — each
    * round divides a vertex's mass by its degree BEFORE propagating
    * (authority pulls h(u)/outdeg(u) over u→v, hub pulls a(v)/indeg(v)
    * back), then L1-normalizes. The degree division is what makes SALSA
    * TKC-robust: a dense cluster can't inflate itself the way it does
    * under HITS, because every edge's contribution is averaged over its
    * endpoint's degree. Same determinism contract as [[hits]]: fixed
    * rounds of IEEE sum+divide, floor-scaled by the caller, unrollable
    * by a SQL oracle. Reference anchor: link-analysis family beside
    * PageRank/HITS (giraph-examples PageRank computation shape).
    *
    * Scale: identical to [[hits]] — per round two edge⋈score shuffles +
    * two broadcast scalar sums; degree frames computed once. */
  def salsa(edges: DataFrame, iterations: Int): DataFrame = owned { o =>
    val e0 = edges.select("src", "dst")
    val odeg = e0.groupBy(col("src")).agg(count(lit(1)).cast("double").as("od"))
    val ideg = e0.groupBy(col("dst")).agg(count(lit(1)).cast("double").as("idg"))
    // degree-annotated edge frames, built ONCE: the per-round joins then
    // touch only (edge ⋈ score) — same per-round shuffle budget as hits
    val eo = o(materialize(e0.join(odeg, Seq("src")), AdaptiveHash("src")))
    val ei = o(materialize(e0.join(ideg, Seq("dst")), AdaptiveHash("dst")))
    linkAnalysis(eo, ei, o(materialize(verticesOf(e0), AdaptiveHash("id"))), iterations,
      col("h") / col("od"), col("a") / col("idg"))
  }
}
