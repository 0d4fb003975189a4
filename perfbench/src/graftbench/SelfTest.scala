package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.LocalSession

/** Tests of the benchmark's own code; exits non-zero when one fails.
  *
  * {{{
  * python3 perfbench/test_bench.py
  * }}}
  */
object SelfTest {
  private var failed = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch {
      case NonFatal(e) => failed += 1; println(s"FAIL $name: $e")
      case e: AssertionError => failed += 1; println(s"FAIL $name: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    check("tail percentile is the highest with ten samples beyond it") {
      assert(Stats.tailPercentile(1000).contains(99))
      assert(Stats.tailPercentile(200).contains(95))
      assert(Stats.tailPercentile(199).contains(90))
      assert(Stats.tailPercentile(100).contains(90))
      assert(Stats.tailPercentile(99).contains(75))
      assert(Stats.tailPercentile(40).contains(75))
      assert(Stats.tailPercentile(20).contains(50))
      assert(Stats.tailPercentile(19).isEmpty)
    }

    check("percentile interpolates between order statistics") {
      assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
      assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 90) == 4.6)
      assert(Stats.median(Seq(7.0)) == 7.0)
      assert(Stats.percentile(Nil, 50).isNaN)
    }

    check("schedule lateness measures how far behind due time emission ran") {
      val s = new Schedule(rate = 10.0, startNanos = 0L)
      assert(s.dueNanos(3) == 300000000L)
      assert(s.emitted(0, 0L) == 0L)
      assert(s.emitted(1, 50000000L) == 0L) // early: not late
      assert(s.emitted(2, 450000000L) == 250000000L)
      assert(s.emitted(3, 310000000L) == 10000000L)
      assert(s.lateMaxSeconds == 0.25)
    }

    check("schedule waits for due time") {
      val t0 = System.nanoTime()
      val s = new Schedule(rate = 20.0, startNanos = t0)
      s.awaitDue(2)
      assert(System.nanoTime() - t0 >= 100000000L)
    }

    val spark = LocalSession.build()
    import spark.implicits._
    try {
      check("digest does not depend on row order or partitioning") {
        val df = Seq((1L, "a", Map("x" -> 1, "y" -> 2), Seq(1.5, 2.5)),
          (2L, null, Map("z" -> 3), Seq.empty[Double]),
          (3L, "c", Map.empty[String, Int], Seq(0.0)))
          .toDF("id", "s", "m", "xs")
        val d = Digest.of(df)
        assert(d.rows == 3)
        assert(Digest.of(df.orderBy(col("id").desc)) == d)
        assert(Digest.of(df.repartition(3)) == d)
        val (observed, obs) = Digest.observed(df.orderBy(col("s")), "t")
        observed.write.format("noop").mode("overwrite").save()
        assert(Digest.read(obs) == d, "observed digest differs from the direct one")
        assert(Digest.of(df.withColumn("s", lit("b"))) != d, "a changed value must change it")
        assert(Digest.of(df.limit(2)).rows == 2)
      }

      check("map digests ignore entry order") {
        val a = spark.sql("SELECT map('x', 1, 'y', 2) AS m")
        val b = spark.sql("SELECT map('y', 2, 'x', 1) AS m")
        assert(Digest.of(a) == Digest.of(b))
      }

      check("a throwing query fails the run and still bills its time") {
        val runner = new Runner(spark, new Spans, None)
        runner.builders = Map(
          "q_ok" -> ((s: SparkSession, _: String) => s.range(10).toDF()),
          "q_boom" -> ((s: SparkSession, _: String) => {
            Thread.sleep(200)
            throw new IllegalStateException("deliberate")
          }: DataFrame))
        val ok = runner.query("q_ok", "", 0)
        val boom = runner.query("q_boom", "", 0)
        assert(ok.error.isEmpty && ok.digest.exists(_.rows == 10))
        assert(boom.error.exists(_.contains("deliberate")))
        assert(boom.latency >= 0.2, s"failed query billed ${boom.latency} s")
        assert(runner.attempted == 2)
        assert(runner.failures.map(_._1) == Seq("q_boom"))
        assert(!runner.ok)
      }

      check("run time and busy time are clipped to the wall window") {
        val tr = new Tracer(spark, new Spans)
        tr.layers.taskIntervals ++= Seq((0L, 100L, 80L), (50L, 150L, 100L), (300L, 300L, 5L))
        assert(tr.runMsIn(0L, 100L) == 130.0)
        assert(tr.runMsIn(100L, 400L) == 55.0)
        assert(tr.busyMs(0L, 100L) == 100L)
        assert(tr.busyMs(120L, 400L) == 30L)
      }

      check("a digest mismatch between executions is a failure") {
        val runner = new Runner(spark, new Spans, None)
        val a = OpResult("q_x", 0.1, 0.0, Some(Digest(3, BigDecimal(7))), None)
        runner.checkSame("repeat", a, a)
        assert(runner.ok)
        runner.checkSame("repeat", a, a.copy(digest = Some(Digest(3, BigDecimal(8)))))
        assert(!runner.ok && runner.failures.head._2.contains("digest mismatch"))
      }
    } finally spark.stop()

    println(if (failed == 0) "all passed" else s"$failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
