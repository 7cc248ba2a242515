package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sql.Exact.idiv

/** Distributed total-order ranking without a single-partition sort.
  *
  * `row_number()/ntile()/running-sum` over `Window.orderBy(...)` with no
  * `partitionBy` moves the ENTIRE frame to one partition (Spark's own
  * "No Partition Defined for Window operation" warning) — correct at
  * sf0.1, the first thing to break at 100×. This operator computes the
  * same global row numbers / running sums with the classic two-pass
  * range-partitioned prefix scheme every distributed sort uses:
  *
  *   1. `repartitionByRange` on the order keys (sampled range exchange —
  *      the same machinery a global `orderBy` runs on, N-way parallel);
  *   2. partition-LOCAL rank / running sum (a `partitionBy(pid)` window —
  *      never crosses executors);
  *   3. per-partition row counts / sums (≤ numParts rows) collected once
  *      and re-broadcast as a literal pid→offset map; global value =
  *      local value + offset(pid).
  *
  * The one driver-side materialization is the ≤ numParts-row offset
  * table — a bounded scalar list, same contract as the IVF probe-cluster
  * ids. The frame is `localCheckpoint`ed between the two passes so both
  * read the SAME partition assignment (range sampling is deterministic
  * per materialization, not across recomputes).
  *
  * The order defined by `order` must be TOTAL (callers tie-break on a
  * unique key, as every oracle-matched query here already does): equal
  * keys may straddle a range boundary, and only a total order makes the
  * global rank a pure function of the data.
  */
object DistributedRank {

  private val Pid  = "__dr_pid"
  private val Lrn  = "__dr_lrn"
  private val Lsum = "__dr_lsum"

  /** `numParts <= 0` (the default at every call site) resolves to the
    * session's `spark.sql.shuffle.partitions`: 32 under the local test
    * config, executor-fleet-sized on a real cluster. A constant here
    * would cap the range exchange at a fixed way-count — at 100× the
    * per-partition local sort becomes the new wall — so the operator
    * follows the same knob every other shuffle in the plan follows. */
  private[operators] def resolveParts(df: DataFrame, numParts: Int): Int =
    if (numParts > 0) numParts
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** `df` plus a global 1-based BIGINT `rankCol` following `order`, and —
    * when `sumCol` is set — a global running `sum(sumCol)` (inclusive of
    * the current row) as `cumCol`. Equivalent to
    * `row_number().over(Window.orderBy(order))` /
    * `sum(c).over(Window.orderBy(order).rowsBetween(unboundedPreceding,
    * currentRow))` but range-partitioned.
    *
    * `sumCol` contract: pass a NON-NULL column for exact SQL running-sum
    * parity (all call sites do). With NULLs present the offset collect is
    * NULL-safe (an all-NULL partition contributes 0), but a row whose
    * in-partition prefix is all-NULL reports NULL even when a PRIOR
    * partition held values — SQL's global frame would report that prior
    * sum. Null-position-exact semantics would need a non-null-count
    * offset map; not built because no caller sums a nullable column. */
  def withRankAndCumSum(df: DataFrame, order: Seq[Column], rankCol: String,
                        sumCol: Option[(Column, String)] = None,
                        numParts: Int = 0): DataFrame = {
    val w = Window.partitionBy(col(Pid)).orderBy(order: _*)
    val local0 = df.repartitionByRange(resolveParts(df, numParts), order: _*)
      .withColumn(Pid, spark_partition_id())
      .withColumn(Lrn, row_number().over(w).cast("long"))
    val local = sumCol match {
      case Some((c, _)) => local0.withColumn(Lsum,
        sum(c).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      case None => local0
    }
    val parted = local.localCheckpoint()
    val perPart = parted.groupBy(col(Pid))
      .agg(count(lit(1)).as("c"),
        coalesce((sumCol match {
          // partition total = sum of the VALUE column (not max of the
          // running sum — negative values make the running sum
          // non-monotonic, e.g. sweep-line ±1 deltas)
          case Some((c, _)) => sum(c)
          case None         => lit(0L)
        }).cast("long"), lit(0L)).as("s")) // all-NULL partition sums to 0
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // exclusive prefix offsets per partition id, shipped as literal maps
    var cOff = 0L; var sOff = 0L
    val offsets = perPart.map { case (pid, c, s) =>
      val o = (pid, cOff, sOff); cOff += c; sOff += s; o
    }
    def litMap(sel: ((Int, Long, Long)) => Long): Column =
      if (offsets.isEmpty) lit(0L) // empty input: no rows read the offset
      else element_at(
        map(offsets.flatMap(o => Seq(lit(o._1), lit(sel(o)))): _*), col(Pid))
    val ranked = parted.withColumn(rankCol, col(Lrn) + litMap(_._2))
    val out = sumCol match {
      case Some((_, cumName)) => ranked.withColumn(cumName,
        col(Lsum) + litMap(_._3))
      case None => ranked
    }
    out.drop(Pid, Lrn, Lsum)
  }

  /** `df` plus a global 1-based BIGINT `rankCol` (row_number semantics)
    * over the total order `order`. */
  def withRowNumber(df: DataFrame, order: Seq[Column], rankCol: String,
                    numParts: Int = 0): DataFrame =
    withRankAndCumSum(df, order, rankCol, None, numParts)

  /** `df` plus the STRICT global prefix max of `valueCol` over the total
    * order `order` (max over all strictly-preceding rows; NULL on the
    * first row) as `outCol` — the distributed replacement for
    * `max(v).over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    * -1))`, e.g. the sort-filter skyline sweep. Same two-pass shape:
    * per-partition strict prefix max + a broadcast map of each
    * partition's predecessor-partitions max. */
  def withStrictPrefixMax(df: DataFrame, order: Seq[Column], valueCol: Column,
                          outCol: String, numParts: Int = 0): DataFrame = {
    val w = Window.partitionBy(col(Pid)).orderBy(order: _*)
    val parted = df.repartitionByRange(resolveParts(df, numParts), order: _*)
      .withColumn(Pid, spark_partition_id())
      .withColumn(Lsum,
        max(valueCol).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .localCheckpoint()
    val perPart = parted.groupBy(col(Pid))
      .agg(max(valueCol).cast("long").as("m"))
      .collect()
      // an all-NULL partition has no max (max() ignores NULL rows): it
      // contributes nothing forward but its rows still read the offset
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    // offset(p) = max over all partitions before p (None until a value)
    var acc: Option[Long] = None
    val offsets = perPart.flatMap { case (pid, m) =>
      val o = acc.map(pid -> _)
      acc = (acc.toSeq ++ m.toSeq).reduceOption(_ max _); o
    }
    val offCol: Column =
      if (offsets.isEmpty) lit(null).cast("long")
      else element_at(
        map(offsets.flatMap(o => Seq(lit(o._1), lit(o._2))): _*), col(Pid))
    parted
      .withColumn(outCol,
        greatest(col(Lsum).cast("long"), offCol)) // greatest ignores NULLs
      .drop(Pid, Lsum)
  }

  /** SQL-standard NTILE from a global row number: `n` buckets over `total`
    * rows — bucket size ⌊total/n⌋, the first total mod n buckets take one
    * extra row (identical in Spark and DuckDB). `rn` must be the 1-based
    * global row number; returns the BIGINT bucket number. */
  def ntileFromRank(rn: Column, total: Long, n: Int): Column = {
    val q = total / n
    val r = total % n
    val big = q + 1
    if (q == 0L) idiv(rn - 1, lit(big)) + 1 // fewer rows than buckets
    else when(rn <= lit(r * big), idiv(rn - 1, lit(big)) + 1)
      .otherwise(lit(r) + idiv(rn - lit(r * big) - 1, lit(q)) + 1)
  }

  /** `df` plus an NTILE(`n`) BIGINT `bucketCol` over the total order
    * `order` — the distributed replacement for
    * `ntile(n).over(Window.orderBy(...))`. */
  def withNtile(df: DataFrame, order: Seq[Column], n: Int, bucketCol: String,
                numParts: Int = 0): DataFrame = {
    val rn = "__dr_rn_" + bucketCol
    val ranked = withRowNumber(df, order, rn, numParts)
    // total row count is already known driver-side from the offset pass,
    // but re-deriving it keeps this a one-liner over the ranked frame:
    // the ranked frame is checkpointed, so the max-rank agg is cheap.
    val total = ranked.agg(max(col(rn))).collect()(0) match {
      case row if row.isNullAt(0) => 0L
      case row                    => row.getLong(0)
    }
    val out =
      if (total == 0L) ranked.withColumn(bucketCol, lit(0L))
      else ranked.withColumn(bucketCol, ntileFromRank(col(rn), total, n))
    out.drop(rn)
  }
}
