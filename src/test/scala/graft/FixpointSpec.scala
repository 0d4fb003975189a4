package graft

import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The fixpoint operator's contract: round cap, early exit, the probe
  * counted inside the round's checkpoint job, and release ownership.
  * The graph loops built on it are pinned per loop in GraphSpec.
  */
class FixpointSpec extends SparkTestBase {

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case p => fail(s"not a checkpoint leaf: $p")
  }

  private def persisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId(df))

  /** k in [0, n) with x = 0 and an old-value column for the probe. */
  private def initOf(n: Int): DataFrame =
    spark.range(n).select(col("id").as("k"), lit(0L).as("old"), lit(0L).as("x"))
      .localCheckpoint()

  private def init: DataFrame = initOf(5)

  /** x ← min(x + 1, cap): changes for `cap` rounds, then is a fixpoint. */
  private def step(cap: Long)(prev: DataFrame): DataFrame =
    prev.select(col("k"), col("x").as("old"), least(col("x") + 1, lit(cap)).as("x"))

  /** The probe: rows whose x moved this round. */
  private val moved = Some(col("x") =!= col("old"))

  private def xs(df: DataFrame): Set[Long] = df.select("x").collect().map(_.getLong(0)).toSet

  /** `body`'s result and the warnings the operator logged meanwhile. */
  private def warningsOf[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val name = Fixpoint.getClass.getName
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender("fixpoint-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val level = logger.getLevel
    Configurator.setLevel(name, Level.WARN)
    logger.addAppender(appender)
    try (body, seen.toArray(Array.empty[String]).toSeq)
    finally {
      logger.removeAppender(appender)
      Configurator.setLevel(name, level)
      appender.stop()
    }
  }

  test("a cap below one round fails before the init is built") {
    var built = false
    val e = intercept[IllegalArgumentException] {
      Fixpoint.iterate({ built = true; init }, 0)(step(9))
    }
    assert(e.getMessage.contains(">= 1 round"))
    assert(!built, "the init must not be evaluated for a rejected cap")
  }

  test("maxRounds = 1 runs exactly one round") {
    var steps = 0
    val out = Fixpoint.iterate(init, 1) { p => steps += 1; step(9)(p) }
    assert(steps == 1 && xs(out) == Set(1L))
  }

  test("a loop with no changed column runs every round up to the cap") {
    var steps = 0
    val out = Fixpoint.iterate(init, 4) { p => steps += 1; step(2)(p) }
    assert(steps == 4 && xs(out) == Set(2L))
  }

  test("the loop stops at the first round whose probe finds no change") {
    var steps = 0
    val out = Fixpoint.iterate(init, 10, changed = moved) { p => steps += 1; step(2)(p) }
    // rounds 1 and 2 move x to 1 then 2; round 3 is the first identity
    assert(steps == 3 && xs(out) == Set(2L))
  }

  test("a probed loop of k rounds over a narrow step starts exactly k jobs") {
    val start = init
    var steps = 0
    val (out, jobs) = GraftSql.jobsStartedBy(spark)(
      Fixpoint.iterate(start, 10, changed = moved) { p => steps += 1; step(2)(p) })
    // the change count rides the checkpoint job: no probe job per round
    assert(steps == 3 && jobs == 3, s"$steps rounds started $jobs jobs")
    GraftSql.releaseCheckpoint(out)
  }

  test("a probed loop over an empty state stops after one round") {
    var steps = 0
    // a shuffle in the step: adaptive execution sees the empty stage
    val out = Fixpoint.iterate(initOf(0), 10, changed = moved) { p =>
      steps += 1
      step(2)(p).join(p.groupBy(col("k")).count(), Seq("k"))
    }
    assert(steps == 1 && out.isEmpty)
    GraftSql.releaseCheckpoint(out)
  }

  test("an owned init and every round but the last are released") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // x <- min(x + 1, k): row k moves in rounds 1..k, so round r changes
    // 5 - r rows and round 5 is the first to change none
    val out = Fixpoint.iterate(init, 10, changed = moved) { p =>
      assert(persisted(p), "a step reads a live round")
      seen += p
      p.select(col("k"), col("x").as("old"), least(col("x") + 1, col("k")).as("x"))
    }
    assert(seen.size == 5 && xs(out) == (0L to 4L).toSet)
    seen.foreach(p => assert(!persisted(p), "a consumed round must be released"))
    assert(persisted(out), "the final round belongs to the caller")
    GraftSql.releaseCheckpoint(out)
  }

  test("an init the caller does not own is never released") {
    val shared = init
    val out = Fixpoint.iterate(shared, 2, releaseInit = false)(step(9))
    assert(persisted(shared) && xs(shared) == Set(0L))
    assert(xs(out) == Set(2L))
    GraftSql.releaseCheckpoint(out)
    GraftSql.releaseCheckpoint(shared)
  }

  test("a probed loop stopped at its cap logs it; a converged or fixed-round loop does not") {
    val (capped, warned) = warningsOf(Fixpoint.iterate(init, 2, changed = moved)(step(9)))
    assert(xs(capped) == Set(2L))
    assert(warned.size == 1 && warned.head.contains("cap of 2 rounds") &&
      warned.head.contains("FixpointSpec"), s"expected one cap warning naming the caller: $warned")
    GraftSql.releaseCheckpoint(capped)
    // converging on the last allowed round is not a cap: rounds 1 and 2
    // move x, round 3 is the identity its probe sees
    val (converged, quiet) = warningsOf(Fixpoint.iterate(init, 3, changed = moved)(step(2)))
    val (fixed, quietToo) = warningsOf(Fixpoint.iterate(init, 2)(step(9)))
    assert(quiet.isEmpty && quietToo.isEmpty, s"unexpected warnings: ${quiet ++ quietToo}")
    Seq(converged, fixed).foreach(GraftSql.releaseCheckpoint)
  }
}
