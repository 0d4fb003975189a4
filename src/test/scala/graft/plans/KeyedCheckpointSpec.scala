package graft.plans

import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** GraftSql.localCheckpointKeyedBy — the stamped keyed checkpoint the
  * iterative graph loops build their shared edge artifacts with
  * (OPTIMIZATION_r19 §6). Pins the three contract points: the stamp is
  * visible to the planner, values are bit-identical to a plain
  * checkpoint, and a same-keyed join/aggregate consumes the layout
  * without re-exchanging the stamped side.
  */
class KeyedCheckpointSpec extends SparkTestBase {
  import org.apache.spark.sql.GraftSql.releaseCheckpoint

  private def edgesDf = {
    import spark.implicits._
    (1L to 20000L).map(i => (i % 397, i % 401)).toDF("src", "dst")
  }

  test("keyed checkpoint stamps a HashPartitioning the planner can see") {
    val e = GraftSql.localCheckpointKeyedBy(edgesDf, Seq("src"))
    e.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.map(_.sql.toLowerCase).exists(_.contains("src")))
        // 20k rows is far below rows-per-partition: the adaptive count
        // must land on 1, not the shuffle-partition conf (the measured
        // local[32] regression trap)
        assert(h.numPartitions == 1, s"adaptive count: ${h.numPartitions}")
      case p => fail(s"expected HashPartitioning, got $p")
    }
    releaseCheckpoint(e)
  }

  test("keyed checkpoint values equal a plain checkpoint's") {
    val plain = edgesDf.localCheckpoint()
    val keyed = GraftSql.localCheckpointKeyedBy(edgesDf, Seq("src"))
    val a = plain.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = keyed.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a.toSeq == b.toSeq)
    releaseCheckpoint(plain); releaseCheckpoint(keyed)
  }

  test("a same-keyed merge join re-exchanges neither stamped side") {
    val e = GraftSql.localCheckpointKeyedBy(edgesDf, Seq("src"))
    val s = GraftSql.localCheckpointKeyedBy(
      edgesDf.select(col("src").as("doc_id")).distinct()
        .withColumn("rank", col("doc_id") * 7), Seq("doc_id"))
    // alias doc_id -> src: AliasAwareOutputPartitioning must carry the
    // stamp through the rename (the rankStep shape)
    val j = s.select(col("doc_id").as("src"), col("rank")).hint("merge")
      .join(e.hint("merge"), Seq("src"))
    j.write.format("noop").mode("overwrite").save()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"stamped sides must not re-exchange:\n$plan")
    releaseCheckpoint(e); releaseCheckpoint(s)
  }

  test("a keyed checkpoint of a checkpointed frame runs the pin, the exchange and the stamp only") {
    // one job pins the rows and counts them (the count that sizes the
    // layout rides the pin's own materializing pass); under AQE the
    // keyed exchange is a job of its own, and one more materializes
    // the stamped checkpoint
    val input = edgesDf.localCheckpoint()
    val (e, jobs) = GraftSql.jobsStartedBy(spark)(GraftSql.localCheckpointKeyedBy(input, Seq("src")))
    assert(jobs == 3, s"keyed checkpoint started $jobs jobs")
    assert(e.count() == 20000L)
    releaseCheckpoint(e); releaseCheckpoint(input)
  }

  test("an empty frame checkpoints without a stamp instead of refusing") {
    // the SCC peel's last live subgraph is empty; AQE collapses its
    // repartition to a 0-partition relation, so there is no layout to
    // stamp — the helper must fall back to a plain eager checkpoint
    val e = GraftSql.localCheckpointKeyedBy(
      edgesDf.filter(col("src") < 0), Seq("src"))
    assert(e.count() == 0)
    releaseCheckpoint(e)
  }

  test("a groupBy on the stamp key aggregates without an exchange") {
    val e = GraftSql.localCheckpointKeyedBy(edgesDf, Seq("src"))
    val agg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    agg.write.format("noop").mode("overwrite").save()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"src-keyed aggregate over a src-stamped checkpoint re-exchanged:\n$plan")
    releaseCheckpoint(e)
  }
}
