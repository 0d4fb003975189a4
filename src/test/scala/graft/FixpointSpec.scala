package graft

import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The fixpoint operator's contract: round cap, early exit, probe
  * order and release ownership. The graph loops built on it are pinned
  * per loop in GraphSpec.
  */
class FixpointSpec extends SparkTestBase {

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case p => fail(s"not a checkpoint leaf: $p")
  }

  private def persisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId(df))

  /** x in [0, 5) with an old-value column for the probe. */
  private def init: DataFrame =
    spark.range(5).select(col("id").as("k"), lit(0L).as("old"), lit(0L).as("x"))
      .localCheckpoint()

  /** x ← min(x + 1, cap): changes for `cap` rounds, then is a fixpoint. */
  private def step(cap: Long)(prev: DataFrame): DataFrame =
    prev.select(col("k"), col("x").as("old"), least(col("x") + 1, lit(cap)).as("x"))

  private def unchanged(prev: DataFrame, next: DataFrame): Boolean =
    next.filter(col("x") =!= col("old")).isEmpty

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
      Fixpoint.iterate({ built = true; init }, 0)(step(9))(Fixpoint.Never)
    }
    assert(e.getMessage.contains(">= 1 round"))
    assert(!built, "the init must not be evaluated for a rejected cap")
  }

  test("maxRounds = 1 runs exactly one round") {
    var steps = 0
    val out = Fixpoint.iterate(init, 1) { p => steps += 1; step(9)(p) }(Fixpoint.Never)
    assert(steps == 1 && xs(out) == Set(1L))
  }

  test("Never runs every round up to the cap") {
    var steps = 0
    val out = Fixpoint.iterate(init, 4) { p => steps += 1; step(2)(p) }(Fixpoint.Never)
    assert(steps == 4 && xs(out) == Set(2L))
  }

  test("the loop stops at the first round whose probe finds no change") {
    var steps = 0
    var probes = 0
    val out = Fixpoint.iterate(init, 10) { p => steps += 1; step(2)(p) } { (p, n) =>
      probes += 1; unchanged(p, n)
    }
    // rounds 1 and 2 move x to 1 then 2; round 3 is the first identity
    assert(steps == 3 && probes == 3 && xs(out) == Set(2L))
  }

  test("an owned init and every round but the last are released; the probe reads both") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val out = Fixpoint.iterate(init, 3) { p => seen += p; step(9)(p) } { (p, n) =>
      // probe order: both rounds are still readable here
      assert(persisted(p) && persisted(n))
      assert(xs(n) == xs(p).map(_ + 1))
      false
    }
    assert(seen.size == 3)
    seen.foreach(p => assert(!persisted(p), "a consumed round must be released"))
    assert(persisted(out), "the final round belongs to the caller")
    GraftSql.releaseCheckpoint(out)
  }

  test("an init the caller does not own is never released") {
    val shared = init
    val out = Fixpoint.iterate(shared, 2, releaseInit = false)(step(9))(Fixpoint.Never)
    assert(persisted(shared) && xs(shared) == Set(0L))
    assert(xs(out) == Set(2L))
    GraftSql.releaseCheckpoint(out)
    GraftSql.releaseCheckpoint(shared)
  }

  test("a probed loop stopped at its cap logs it; a converged or fixed-round loop does not") {
    val (capped, warned) = warningsOf(
      Fixpoint.iterate(init, 2)(step(9))((p, n) => unchanged(p, n)))
    assert(xs(capped) == Set(2L))
    assert(warned.size == 1 && warned.head.contains("cap of 2 rounds") &&
      warned.head.contains("FixpointSpec"), s"expected one cap warning naming the caller: $warned")
    GraftSql.releaseCheckpoint(capped)
    // converging on the last allowed round is not a cap: rounds 1 and 2
    // move x, round 3 is the identity its probe sees
    val (converged, quiet) = warningsOf(
      Fixpoint.iterate(init, 3)(step(2))((p, n) => unchanged(p, n)))
    val (fixed, quietToo) = warningsOf(Fixpoint.iterate(init, 2)(step(9))(Fixpoint.Never))
    assert(quiet.isEmpty && quietToo.isEmpty, s"unexpected warnings: ${quiet ++ quietToo}")
    Seq(converged, fixed).foreach(GraftSql.releaseCheckpoint)
  }
}
