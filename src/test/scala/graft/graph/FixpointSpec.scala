package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge
import org.apache.spark.sql.graft.CheckpointBridge.Stats

import graft.SparkSpec

/** What [[Fixpoint.run]] frees: per round, the frames of the old state
  * that the new state no longer holds; on a throw, the live state; never
  * the final state. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def idsOf(df: DataFrame): Set[Int] = CheckpointBridge.rddsOf(df).map(_.id).toSet
  private def ids(n: Long): DataFrame = CheckpointBridge.materialize(spark.range(n).toDF("id"), Stats)
  private def plusOne(df: DataFrame): DataFrame =
    CheckpointBridge.materialize(df.select((col("id") + 1L).as("id")), Stats)

  test("a tuple state frees its superseded component each round, never the one carried over") {
    val kept = ids(5)
    val a0 = ids(3)
    var as = Vector(a0)
    val ((a, b), rounds) = Fixpoint.run((a0, kept), Fixpoint.inStep[(DataFrame, DataFrame)], 4) {
      case ((a, b), _, _) =>
        val live = persisted
        assert(as.init.forall(x => (idsOf(x) & live).isEmpty), "a superseded component is live")
        assert(idsOf(a).subsetOf(live) && idsOf(b).subsetOf(live), "the state was freed")
        as :+= plusOne(a)
        ((as.last, b), Fixpoint.Unmeasured)
    }
    assert(rounds == 4 && (b eq kept) && (a eq as.last))
    assert((idsOf(a) ++ idsOf(b)).subsetOf(persisted), "the final state was freed")
    assert(as.init.forall(x => (idsOf(x) & persisted).isEmpty))
    assert(a.as[Long].collect().sorted.toSeq == Seq(4L, 5L, 6L))
    CheckpointBridge.free(a); CheckpointBridge.free(b)
  }

  test("a Seq state grows without frees") {
    val (levels, _) = Fixpoint.run(Vector(ids(1)), Fixpoint.inStep[Vector[DataFrame]], 3) {
      (levels, _, _) => (levels :+ plusOne(levels.last), Fixpoint.Unmeasured)
    }
    assert(levels.size == 4)
    assert(levels.map(idsOf).reduce(_ ++ _).subsetOf(persisted))
    assert(levels.map(_.as[Long].collect().toSeq) == Seq(Seq(0L), Seq(1L), Seq(2L), Seq(3L)))
    levels.foreach(CheckpointBridge.free)
  }

  test("over 10 rounds the persistent RDDs stay within the state's size plus one") {
    val before = persisted
    var peak = 0
    val (last, rounds) = Fixpoint.run(ids(4), Fixpoint.materializing(Stats), 10,
        continue = (r: Fixpoint.Round[DataFrame]) => {
          peak = peak.max((persisted -- before).size); true
        }) { (df, _, _) =>
      peak = peak.max((persisted -- before).size)
      df.select((col("id") + 1L).as("id"))
    }
    assert(rounds == 10 && peak == 2, s"peak $peak")
    assert(persisted -- before == idsOf(last), "the final state was freed or a round leaked")
    assert(last.as[Long].collect().sorted.toSeq == Seq(10L, 11L, 12L, 13L))
    CheckpointBridge.free(last)
  }

  test("a round that throws frees the live state and rethrows") {
    val before = persisted
    // the states stay strongly reachable, so a stranded one cannot be
    // reclaimed by the ContextCleaner before it is counted
    var seen = Vector.empty[DataFrame]
    val inStep = intercept[IllegalStateException] {
      Fixpoint.run(ids(4), Fixpoint.materializing(Stats), 5) { (df, i, _) =>
        seen :+= df
        if (i == 2) throw new IllegalStateException("round 2")
        df.select((col("id") + 1L).as("id"))
      }
    }
    assert(inStep.getMessage == "round 2" && seen.size == 3)
    assert(persisted -- before == Set.empty, "a throwing step stranded its state")
    val inContinue = intercept[IllegalStateException] {
      Fixpoint.run((ids(4), ids(2)), Fixpoint.inStep[(DataFrame, DataFrame)], 5,
          continue = (r: Fixpoint.Round[(DataFrame, DataFrame)]) => {
            seen :+= r.state._1
            if (r.index == 1) throw new IllegalStateException("continue 1") else true
          }) { case ((a, b), _, _) => ((plusOne(a), b), Fixpoint.Unmeasured) }
    }
    assert(inContinue.getMessage == "continue 1")
    assert(persisted -- before == Set.empty, "a throwing continue check stranded a state")
  }
}
