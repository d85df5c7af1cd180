package graft

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one driver every iterative operator schedules its rounds with
  * (the Pregel-on-dataframes shape Pregelix and GLog share: each round
  * is ONE dataflow, the driver only sequences rounds). Each round's
  * state is `localCheckpoint`ed exactly once, so a round's plan stays
  * one round deep however many rounds run. A checkpoint a step needs
  * INSIDE its round (a broadcast scalar, a half-round consumed twice)
  * stays the step's own.
  *
  *  - [[rounds]] runs a fixed number of rounds and probes nothing: the
  *    contract of every operator whose oracle unrolls its rounds as a
  *    CTE chain.
  *  - [[untilStable]] runs to a fixpoint. Each round carries its own
  *    convergence witness, so the probe is one `limit(1)` scan of the
  *    round's checkpoint, and it fails loudly at its round cap. */
private[graft] object Iterate {

  /** The boolean witness column of an [[untilStable]] round: true on
    * every row the round changed. */
  val Changed = "changed"

  /** `step` applied exactly `n` times to `init` (`init` itself when
    * n ≤ 0), each round's output checkpointed once. Each round's
    * checkpoint supersedes the last; the old blocks are only WEAKLY held
    * (persistentRdds is a weak-value map) and the ContextCleaner drops
    * them once the superseded Dataset is GC'd — measured end-of-bench
    * residue across a 39-query × 3-pass run: ~6 RDDs / 15 MB (see
    * Bench's storage line), not a leak. */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((s, _) => step(s).localCheckpoint())

  /** `step` applied until a round changes nothing. The step returns the
    * next state plus a boolean [[Changed]] column; the driver
    * checkpoints it, stops at the first round whose checkpoint holds no
    * changed row, and hands the checkpoint minus the witness (a
    * projection, no job) to the next round or the caller. Throws
    * `IllegalStateException` naming `name` and the cap if round
    * `maxRounds` still changed something. */
  def untilStable(name: String, init: DataFrame, maxRounds: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    @tailrec def go(s: DataFrame, round: Int): DataFrame = {
      if (round > maxRounds)
        throw new IllegalStateException(
          s"$name: no fixpoint after $maxRounds rounds")
      val r = step(s).localCheckpoint()
      val next = r.drop(Changed)
      if (r.filter(col(Changed)).limit(1).count() == 0L) next
      else go(next, round + 1)
    }
    go(init, 1)
  }
}
