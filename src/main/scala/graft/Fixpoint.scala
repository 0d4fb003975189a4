package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSql

/** The iterative fixpoint every graph loop runs: a state table that a
  * `step` rewrites round by round until a probe says nothing changed
  * or a round cap is hit.
  *
  * Each round is materialized with an eager `localCheckpoint()` — the
  * GraphX lineage-truncation discipline. Without it round k's plan
  * re-evaluates every earlier round (the rank step reads its input
  * three times, so the lazy plan grows as 3^k).
  *
  * Contract:
  *  - `init` is the round-0 state, already materialized by the caller
  *    (a checkpoint leaf). It is evaluated after `maxRounds` is
  *    checked, so a bad cap fails before any job runs.
  *  - `step(prev)` returns the next round's LAZY plan; the operator
  *    checkpoints it. `prev` is the previous round's checkpoint as
  *    materialized, so a step that carries an old-value column for its
  *    probe projects it away itself.
  *  - `done(prev, next)` runs once `next` is materialized and before
  *    `prev` is released, so it may read both (a changed-row
  *    `isEmpty`, a count comparison, a per-round delta). `true` stops
  *    the loop; [[Never]] runs every round.
  *  - Release: once a round is materialized and probed, the previous
  *    round's checkpoint is dead and is released at once
  *    ([[GraftSql.releaseCheckpoint]]), not whenever the ContextCleaner
  *    notices — at frontier scale each round pins a per-node table. An
  *    init the caller does not own (a session pin) is never released:
  *    pass `releaseInit = false`. The returned final checkpoint is live
  *    and belongs to the caller.
  *
  * Jobs: one checkpoint materialization per round plus whatever the
  * probe runs — the operator adds none.
  */
object Fixpoint {

  /** The probe of a fixed-round loop. */
  val Never: (DataFrame, DataFrame) => Boolean = (_, _) => false

  def iterate(init: => DataFrame, maxRounds: Int, releaseInit: Boolean = true)
             (step: DataFrame => DataFrame)
             (done: (DataFrame, DataFrame) => Boolean): DataFrame = {
    require(maxRounds >= 1, s"a fixpoint needs >= 1 round, got $maxRounds")
    @annotation.tailrec
    def round(prev: DataFrame, ownsPrev: Boolean, k: Int): DataFrame = {
      val next = step(prev).localCheckpoint()
      val stop = done(prev, next)
      if (ownsPrev) GraftSql.releaseCheckpoint(prev)
      if (stop || k == maxRounds) next else round(next, ownsPrev = true, k + 1)
    }
    round(init, releaseInit, 1)
  }
}
