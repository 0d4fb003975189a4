package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One executed query: its latency (builder call plus execution), the
  * part of it spent inside the builder, its output digest, and the
  * error if it threw.
  */
final case class OpResult(name: String, latency: Double, buildS: Double,
                          digest: Option[Digest], error: Option[String])

/** Runs named queries one at a time and keeps the run's failure ledger.
  * Every attempt is counted; a failure is recorded with the query name
  * and the exception message, and its elapsed time still counts toward
  * the phase's wall clock, so a failing query can never make a run look
  * faster.
  */
final class Runner(spark: SparkSession, val spans: Spans, tracer: Option[Tracer]) {
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0L

  /** Builders by name; a test may swap in its own. */
  var builders: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    SparkEntry.queries

  def ok: Boolean = synchronized(failures.isEmpty)

  def fail(name: String, message: String): Unit = synchronized {
    failures += ((name, message))
  }

  /** Count one attempted operation that is not a query (an event, a check). */
  def attempt(n: Long = 1): Unit = synchronized(attempted += n)

  def query(name: String, dir: String, parent: Long): OpResult = {
    attempt()
    val sc = spark.sparkContext
    val op = spans.begin("op", name, parent)
    tracer.foreach(_.opBegin(op, System.currentTimeMillis()))
    sc.setLocalProperty(Tracer.OpProp, op.toString)
    val t0 = System.nanoTime()
    var buildS = 0.0
    var digest: Option[Digest] = None
    var error: Option[String] = None
    try {
      val b = spans.begin("build", name, op)
      val df = builders(name)(spark, dir)
      buildS = (System.nanoTime() - t0) / 1e9
      spans.end(b)
      val e = spans.begin("execute", name, op)
      val (observed, obs) = Digest.observed(df, name)
      observed.write.format("noop").mode("overwrite").save()
      digest = Some(Digest.read(obs))
      spans.end(e)
    } catch {
      case NonFatal(e) =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.take(3).mkString(" | ")
        error = Some(msg)
        fail(name, msg)
    } finally sc.setLocalProperty(Tracer.OpProp, null)
    val latency = (System.nanoTime() - t0) / 1e9
    val s = spans.end(op, Map("latency_s" -> latency, "build_s" -> buildS,
      "ok" -> error.isEmpty))
    tracer.foreach(_.opDone(s))
    OpResult(name, latency, buildS, digest, error)
  }

  /** Compare digests of two executions of the same query on the same
    * input; a difference is a failure unless the query is known to be
    * nondeterministic in content, in which case only row counts must
    * agree.
    */
  def checkSame(what: String, a: OpResult, b: OpResult): Unit =
    (a.digest, b.digest) match {
      case (Some(x), Some(y)) =>
        val same = if (Panel.rowsOnly(a.name)) x.rows == y.rows else x == y
        if (!same) fail(a.name, s"digest mismatch ($what): $x vs $y")
      case _ => () // the error is already recorded
    }
}
