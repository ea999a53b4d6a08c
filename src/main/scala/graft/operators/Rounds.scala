package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.Checkpointing.CutOps

/** The one round loop of the iterative graph operators: a carried
  * frame, a `step` that maps it (and the 1-based round number) to the
  * next round's frame, and a cut policy. Two shapes:
  *
  *   - [[fixed]] runs exactly `n` rounds and stays lazy, so `.explain`
  *     audits and plan pins see the rounds; it cuts every `cutEvery`
  *     rounds while rounds remain. A step that reads its carry twice
  *     doubles the lazy plan each round, so it must cut every round
  *     (`cutEvery = 1`); a step that reads it once passes `n` and keeps
  *     one lazy plan.
  *   - [[until]] cuts every round with [[Checkpointing.cutCounted]] and
  *     stops on one of three [[Stop]] policies: [[Unchanged]] (no job
  *     beyond the cut, whose count it reads), [[Residual]] (one
  *     driver scalar a round) and [[SameRows]] (one `except` job, run
  *     only in rounds whose count repeats).
  */
object Rounds {

  sealed trait Stop

  /** Stop once a round's row count equals the previous round's (the
    * initial frame's, for round 1) or is zero; an empty initial frame
    * runs no round. Sound for steps whose output is a subset of their
    * input (peelers: same count, same set) or a superset of it (a
    * reached set: same count, nothing new) and that map an empty frame
    * to an empty one. Costs no job beyond the cut.
    */
  case object Unchanged extends Stop

  /** Stop once `agg`, a one-row aggregate over the round's cut frame,
    * is at most `tol` (a null aggregate reads 0). The step carries what
    * the aggregate compares against, e.g. the previous value as a
    * `_prev` column, so the check reads one frame and joins nothing.
    */
  final case class Residual(agg: Column, tol: Double) extends Stop

  /** Stop once a round's frame holds exactly the previous round's rows:
    * equal counts (the cuts' own) and `next.except(prev)` empty. Exact
    * for duplicate-free frames, and unlike [[Unchanged]] it keeps going
    * while a step moves rows at a constant count. The `except` job
    * runs only in rounds whose count repeats.
    */
  case object SameRows extends Stop

  /** @param frame the last round's cut (`init` when no round ran)
    * @param rows `frame`'s row count (-1 when no round ran and the
    *   policy counted nothing)
    */
  final case class Run(frame: DataFrame, rounds: Int, converged: Boolean,
      rows: Long)

  def fixed(init: DataFrame, n: Int, cutEvery: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(init) { (cur, i) =>
      val next = step(cur, i)
      if (i % cutEvery == 0 && i < n) next.lineageCut else next
    }

  /** Runs `step` until `stop` holds or `maxRounds` rounds ran.
    *
    * @param initRows `init`'s row count when the caller already has it
    *   (then `init` must already be a cut); otherwise [[Unchanged]]
    *   and [[SameRows]] cut `init` to count it.
    */
  def until(init: DataFrame, maxRounds: Int, stop: Stop,
      initRows: Long = -1L)(step: (DataFrame, Int) => DataFrame): Run = {
    val counted = stop == Unchanged || stop == SameRows
    var (cur, rows) =
      if (counted && initRows < 0) Checkpointing.cutCounted(init)
      else (init, initRows)
    var converged = stop == Unchanged && rows == 0
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val (next, n) = Checkpointing.cutCounted(step(cur, round))
      converged = stop match {
        case Unchanged => n == rows || n == 0
        case SameRows => n == rows && next.except(cur).isEmpty
        case Residual(agg, tol) =>
          val r = next.agg(agg).head().get(0)
          (if (r == null) 0.0 else r.asInstanceOf[Number].doubleValue) <= tol
      }
      cur = next
      rows = n
    }
    Run(cur, round, converged, rows)
  }
}
