package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.CheckpointBridge
import org.apache.spark.sql.graft.CheckpointBridge.{Layout, Tally, framesIn, releaseBut}

/** The one loop driver of graft's iterative plans, Giraph's master loop
  * (compute, aggregate, check halting, repeat; PAPER.md §1) over
  * DataFrames. [[run]] owns the round counter, the per-round barrier, the
  * continue check bounded by `maxRounds` and the freeing of superseded
  * state.
  *
  * State: a frame, or several frames in a tuple, an `Option` or a `Seq`
  * (anything `CheckpointBridge.framesIn` reads).
  *
  * Barrier: by default [[materializing]], i.e.
  * `CheckpointBridge.materialize(df, layout[, metric])`, ONE job per
  * round with the metric fused into it as the round's [[Tally]].
  * [[Pregel]] passes its own, which writes a parquet snapshot on its
  * checkpoint cadence. A step over several frames materializes them
  * itself, in the order their plans need, and returns the state with its
  * tally through [[inStep]]. The fused metric's accumulators are
  * at-least-once: a task retry can only over-report a count or a sum of
  * non-negative values, so a `count > 0` predicate may run one redundant
  * round but never stops early, and a true zero reads as zero. The
  * metric is loop control and must never become result data.
  *
  * Ownership: the loop owns its init and every round state. At the end
  * of a round it frees each frame of the old state that the new state
  * does not hold, sparing the leaf RDDs the new state still reads: the
  * rule `CheckpointBridge.owned` applies when a block exits, through the
  * same `CheckpointBridge.releaseBut`. So a component carried over
  * unchanged is never freed, a `Seq` that only grows frees nothing, and a
  * superseded barrier product or checkpointed init is released at the RDD
  * level; a persisted init (e.g. Pregel's persisted copy of the caller's
  * vertices) is `unpersist`-ed only, because its plan leaves may be
  * checkpoints someone else owns. When a step, the barrier or the
  * continue check throws, the loop frees the current state and any
  * just-materialized next state, then rethrows. The final state is
  * returned unfreed: it is the caller's, typically handed to the caller's
  * `CheckpointBridge.owned` scope.
  */
object Fixpoint {

  /** Materializes a round's frame, given the round index. */
  type Barrier = (DataFrame, Int) => (DataFrame, Tally)

  /** A finished round: its index, the new state and its tally, and the
    * tally of the state it replaced. */
  final case class Round[+S](index: Int, state: S, tally: Tally, prev: Tally)

  /** The tally of a barrier without a metric. */
  val Unmeasured: Tally = Tally(0L, 0.0, Double.NegativeInfinity)

  /** The tally of a boolean metric true on `n` rows, for a count taken
    * by a job of its own. */
  def counted(n: Long): Tally =
    Tally(n, n.toDouble, if (n > 0) 1.0 else Double.NegativeInfinity)

  /** A plain eager `df.localCheckpoint()`: planned adaptively, with the
    * plan's estimated stats, for the small fixed-round loops whose plans
    * were tuned on it. */
  val checkpointing: Barrier = (df, _) => (df.localCheckpoint(), Unmeasured)

  /** The default barrier: `materialize(df, layout)`. */
  def materializing(layout: Layout): Barrier =
    (df, _) => (CheckpointBridge.materialize(df, layout), Unmeasured)

  /** The default barrier with `metric` fused into its job. */
  def materializing(layout: Layout, metric: Column): Barrier =
    (df, _) => CheckpointBridge.materialize(df, layout, metric)

  /** The continue check of a loop that runs while its round's tally
    * counts something. */
  val whileCounting: Round[Any] => Boolean = _.tally.count > 0

  /** The barrier of a step that materializes its own state and returns
    * it with its tally. */
  def inStep[S]: ((S, Tally), Int) => (S, Tally) = (next, _) => next

  /** Rounds `firstRound, firstRound + 1, …` from `init`: each one
    * materializes `step(state, round, tally of state)` through `barrier`
    * and frees what the new state supersedes; the loop goes on while
    * `continue` holds and the round index is below `maxRounds`.
    *
    * @param start a pre-loop measurement: the loop runs only when its
    *              count is positive, and it is round 0's tally. Without
    *              it, round 0 always runs.
    * @return the final state and the number of rounds run
    */
  def run[T, S](init: S, barrier: (T, Int) => (S, Tally), maxRounds: Int,
                start: Option[Tally] = None,
                firstRound: Int = 0, continue: Round[S] => Boolean = (_: Round[S]) => true)(
      step: (S, Int, Tally) => T): (S, Int) = {
    var state = init
    var tally = start.getOrElse(Unmeasured)
    var round = firstRound
    var go = start.forall(_.count > 0)
    while (go && round < maxRounds) {
      val (next, t) = freeingOnThrow(state)(barrier(step(state, round, tally), round))
      go = freeingOnThrow((state, next))(continue(Round(round, next, t, tally)))
      val live = framesIn(next)
      releaseBut(framesIn(state).filterNot(f => live.exists(_ eq f)), live)
      state = next
      tally = t
      round += 1
    }
    (state, round - firstRound)
  }

  /** `body`, freeing every frame of `live` if it throws. */
  private def freeingOnThrow[A](live: Any)(body: => A): A =
    try body catch {
      case e: Throwable => releaseBut(framesIn(live), Nil); throw e
    }
}
