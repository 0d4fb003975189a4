package graft

import org.apache.spark.sql.{Column, DataFrame, GraftSql, Observation}
import org.apache.spark.sql.functions.count_if

/** The iterative fixpoint every graph loop runs: a state table that a
  * `step` rewrites round by round until no row changed or a round cap
  * is hit.
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
  *  - Probe: `changed` is a boolean expression over the next round's
  *    rows (typically `new =!= old` over a carried old-value column).
  *    The operator counts the rows where it holds with
  *    `Dataset.observe` on the plan it checkpoints, so the count
  *    arrives with the round's own checkpoint job; a round counting 0
  *    is the fixpoint and stops the loop. `None` runs every round.
  *  - Release: once a round is materialized, the previous round's
  *    checkpoint is dead and is released at once
  *    ([[GraftSql.releaseCheckpoint]]), not whenever the ContextCleaner
  *    notices — at frontier scale each round pins a per-node table. An
  *    init the caller does not own (a session pin) is never released:
  *    pass `releaseInit = false`. The returned final checkpoint is live
  *    and belongs to the caller.
  *
  * Jobs: one checkpoint materialization per round, probe included —
  * the operator adds none.
  *
  * A probed loop that reaches `maxRounds` while its last round still
  * changed rows logs a warning: its result is the capped state, not
  * the fixpoint (for min-label components, a component wider than the
  * cap is split across several labels).
  */
object Fixpoint {

  def iterate(init: => DataFrame, maxRounds: Int, changed: Option[Column] = None,
              releaseInit: Boolean = true)(step: DataFrame => DataFrame): DataFrame = {
    require(maxRounds >= 1, s"a fixpoint needs >= 1 round, got $maxRounds")
    @annotation.tailrec
    def round(prev: DataFrame, ownsPrev: Boolean, k: Int): DataFrame = {
      val probe = Observation()
      val plan = step(prev)
      val next = changed.fold(plan)(c => plan.observe(probe, count_if(c).as("n")))
        .localCheckpoint()
      if (ownsPrev) GraftSql.releaseCheckpoint(prev)
      // rows this round changed; None for a fixed-round loop
      val moved = changed.map(_ => probe.get("n").asInstanceOf[Long])
      if (moved.contains(0L)) next
      else if (k == maxRounds) {
        if (moved.isDefined) warnCapped(maxRounds)
        next
      } else round(next, ownsPrev = true, k + 1)
    }
    round(init, releaseInit, 1)
  }

  /** Logs a capped, unconverged loop, naming the first caller outside
    * this object.
    */
  private def warnCapped(maxRounds: Int): Unit = {
    val caller = Thread.currentThread.getStackTrace.iterator.drop(1)
      .find(_.getClassName != getClass.getName)
      .fold("<unknown>")(f => s"${f.getClassName.stripSuffix("$")}.${f.getMethodName}")
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"fixpoint loop in $caller stopped at its cap of $maxRounds rounds with rows " +
        "still changing; the result is the capped state, not the fixpoint")
  }
}
