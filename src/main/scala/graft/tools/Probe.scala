package graft.tools
import org.apache.spark.sql.SparkSession

/** Scratch profiler for named SparkEntry queries.
  *
  * Usage: runMain graft.tools.Probe <sfDir> <query...> [--plan] [--exchanges]
  *  - default: warm min-of-3 wall time per query, with `--plan` the
  *    formatted physical plan first;
  *  - `--exchanges`: the final-adaptive-plan exchange census behind
  *    PlanShapeSpec's exchange-count pins instead of timings. Runs each
  *    query to completion (AQE finalizes the plan only at runtime),
  *    then counts keyed shuffles the way the pins do: Exchange lines
  *    that are not broadcasts, reuses, or round-robin fanOut
  *    repartitions. With `--plan` it also prints that final plan.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).filterNot(_.startsWith("--"))
    val showPlan = args.contains("--plan")
    val spark = graft.LocalSession.build()
    if (args.contains("--exchanges")) names.foreach(exchanges(spark, sfDir, _, showPlan))
    else time(spark, sfDir, names, showPlan)
    spark.stop()
  }

  private def exchanges(spark: SparkSession, sfDir: String, n: String,
                        showPlan: Boolean): Unit = {
    val df = graft.SparkEntry.queries(n)(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val cnt = p.linesIterator.count(l => l.contains("Exchange")
      && !l.contains("BroadcastExchange") && !l.contains("Reused")
      && !l.contains("RoundRobinPartitioning"))
    println(s"EXCHANGES $n = $cnt")
    if (showPlan) println(p)
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String],
                   showPlan: Boolean): Unit = {
    graft.SparkEntry.queries("q_domain_stats")(spark, sfDir)
      .write.format("noop").mode("overwrite").save() // warm-up
    names.foreach { n =>
      if (showPlan) {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        println(s"==== PLAN $n ====\n" + df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      // rebuild the query each run (BenchKit.runOnce) — queries that do
      // eager work at build time (the CC loop) must bill it to the run
      val times = (1 to 3).map { _ =>
        System.gc()
        graft.BenchKit.runOnce(spark, n, sfDir)
      }
      println(f"==== TIME $n min=${times.min}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
  }
}
