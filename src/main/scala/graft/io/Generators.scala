package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sql.Exact.idiv

/** Deterministic synthetic graph generators, mirroring the reference's
  * benchmark inputs (SURVEY §2.1):
  *
  *  - uniform random: PseudoRandomVertexInputFormat
  *    (CORE/io/formats/PseudoRandomVertexInputFormat.java:48-92) — n
  *    vertices × d out-edges with uniform random targets;
  *  - small world: WattsStrogatzVertexInputFormat
  *    (CORE/io/formats/WattsStrogatzVertexInputFormat.java:49-113) — ring
  *    lattice with k neighbors, each rewired with probability beta.
  *
  * Randomness is `xxhash64(id, index, seed)` — a pure Catalyst expression,
  * so generation is deterministic per (id, seed), reproducible across
  * runs/partitionings (the reference seeds per-split for the same reason),
  * and embarrassingly parallel from `spark.range`.
  */
object Generators {

  /** Uniform random digraph: n vertices, d out-edges each. Self-loops are
    * remapped (within the local range for local draws) rather than
    * dropped so out-degree is exactly d.
    *
    * `localRatioPermille` mirrors the reference's LOCAL_EDGES_MIN_RATIO
    * (CORE/io/formats/PseudoRandomInputFormatConstants.java:32-35): at
    * least that fraction of each vertex's edges target the vertex's own
    * range partition (partition p(v) = ⌊v·P/n⌋ over `numPartitions`
    * ranges — the locality dial the reference benchmarks use to model
    * worker-local messaging). The remaining edges draw uniformly from
    * all of [0, n), so the realized local fraction is ≥ the knob. */
  def uniform(spark: SparkSession, n: Long, d: Int, seed: Long = 42L,
              localRatioPermille: Int = 0, numPartitions: Int = 32): DataFrame = {
    val base = spark.range(n).select(col("id").as("src"),
      explode(sequence(lit(0), lit(d - 1))).as("i"))
    if (localRatioPermille <= 0) {
      val raw = base
        .select(col("src"), pmod(xxhash64(col("src"), col("i"), lit(seed)), lit(n)).as("dst"))
      raw.select(col("src"),
        when(col("dst") === col("src"), pmod(col("dst") + 1, lit(n))).otherwise(col("dst")).as("dst"))
    } else {
      // Clamp P ≤ n so every range partition is non-empty (size ≥ 1);
      // P > n would make pmod(hash, 0) null for the empty ranges.
      val P = math.max(1L, math.min(numPartitions.toLong, n))
      val p = idiv(col("src") * P, lit(n))
      val pStart = idiv(p * n + P - 1, lit(P))   // ceil(p·n/P)
      val pEnd = idiv((p + 1) * n + P - 1, lit(P)) // ceil((p+1)·n/P)
      val size = pEnd - pStart
      val isLocal = pmod(xxhash64(col("src"), col("i"), lit(seed + 1)), lit(1000L)) <
        localRatioPermille
      val raw = base.select(col("src"), col("i"), isLocal.as("loc"),
        when(isLocal, pStart + pmod(xxhash64(col("src"), col("i"), lit(seed)), size))
          .otherwise(pmod(xxhash64(col("src"), col("i"), lit(seed)), lit(n))).as("dst"))
      // Self-loop remap: local draws rotate within the range — except a
      // size-1 range, where rotation maps back to src; fall back to the
      // global rotation there (no-self-loop beats strict locality).
      raw.select(col("src"),
        when(col("dst") =!= col("src"), col("dst"))
          .when(col("loc") && size > 1, pStart + pmod(col("dst") - pStart + 1, size))
          .otherwise(pmod(col("dst") + 1, lit(n))).as("dst"))
    }
  }

  /** Watts-Strogatz small world: ring lattice (k nearest neighbors
    * clockwise) with per-edge rewiring probability betaPermille/1000. */
  def wattsStrogatz(spark: SparkSession, n: Long, k: Int, betaPermille: Int,
                    seed: Long = 42L): DataFrame = {
    val ring = spark.range(n).select(col("id").as("src"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .select(col("src"), col("j"), pmod(col("src") + col("j"), lit(n)).as("ring_dst"))
    ring.select(col("src"),
      when(pmod(xxhash64(col("src"), col("j"), lit(seed)), lit(1000L)) < betaPermille,
        pmod(xxhash64(col("src"), col("j"), lit(seed + 1)), lit(n)))
        .otherwise(col("ring_dst")).as("dst"))
      .select(col("src"),
        when(col("dst") === col("src"), pmod(col("dst") + 1, lit(n))).otherwise(col("dst")).as("dst"))
  }
}
