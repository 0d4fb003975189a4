package graft.ext

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The composed ingest gate: column-for-column agreement with its
  * oracle-gated component queries, and batch/streaming parity.
  */
class IngestSpec extends SparkTestBase {
  import spark.implicits._

  test("ingest gate: dedup columns equal the cascade's, cdc fraction equals the incremental's") {
    val gate = Ingest.ingestGate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getDouble(4), r.getBoolean(5), r.getBoolean(6)))).toMap
    val cascade = Dedup.dedupCascade(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
      .toMap
    assert(gate.keySet == cascade.keySet, "gate and cascade must cover the same delta")
    cascade.foreach { case (id, (u, e, n)) =>
      val g = gate(id)
      assert((g._1, g._2, g._3) == ((u, e, n)),
        s"doc $id: gate dedup verdicts ${(g._1, g._2, g._3)} != cascade ${(u, e, n)}")
    }
    val cdc = Corpus.cdcIncremental(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    cdc.foreach { case (id, frac) =>
      assert(gate(id)._4 == frac, s"doc $id: gate cdc $frac != incremental")
    }
    // the admitted bit is the conjunction, and both outcomes occur
    gate.values.foreach { case (u, e, n, f, q, adm) =>
      assert(adm == (!u && !e && !n && f < 0.5 && q))
    }
    assert(gate.values.exists(_._6) && gate.values.exists(!_._6),
      "real delta must contain both admitted and rejected arrivals")
  }

  test("ingest gate sink: one frozen scope, batch parity, auto-release on stop") {
    implicit val sqlCtx = spark.sqlContext
    val passage = (1 to 60).map(i => s"ig$i").mkString(" ")
    val stopRich = "the quick brown fox and the lazy dog of the north " +
      "ran to the old mill on the hill for a long day in the warm sun"
    val base = Seq((96L, passage, "src0")).toDF("doc_id", "text", "source")
    val arrivals = Seq(
      (4L, passage, "src0"),                           // exact (and near/cdc) dup
      (8L, s"$stopRich fresh words entirely", "src1")) // novel, quality-passing
    val input = MemoryStream[(Long, String, String)]
    val out = Files.createTempDirectory("ig_out").toString
    val ckpt = Files.createTempDirectory("ig_ckpt").toString
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    val query = Ingest.gateSink(
      input.toDF().toDF("doc_id", "text", "source"), base, out, ckpt,
      triggerMs = 50L).start()
    assert(spark.sparkContext.getPersistentRDDs.size == pinnedBefore,
      "the gate index must not stay in the RDD cache: it is broadcast once")
    val shared = Freeze.pins(ckpt) match {
      case Seq(Freeze.BroadcastPin(b, bytes)) => assert(bytes > 0); b
      case other => fail(s"the four artifacts must pin as ONE broadcast index under the sink scope: $other")
    }
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    // the REAL artifact builder (private[ext]) — a fifth artifact or a
    // changed URL synthesis in production reaches this parity check
    val (u, c, b, k) = Ingest.artifacts(base)
    val batch = Ingest.gateAgainst(arrivals.toDF("doc_id", "text", "source"),
        u, c, b, k)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3),
        r.getDouble(4), r.getBoolean(6)))).toMap
    // the re-post: exact + near dup, fully CDC-owned, rejected
    assert(byDoc(4L)._1 && byDoc(4L)._2 && byDoc(4L)._3 == 1.0 && !byDoc(4L)._4,
      s"re-post must be rejected on every dup axis: ${byDoc(4L)}")
    // the novel quality doc: no dup fired, admitted
    assert(byDoc(8L) == ((false, false, 0.0, true)),
      s"novel quality arrival must be admitted: ${byDoc(8L)}")
    // ONE scope, one lifecycle: termination auto-releases the gate
    // index (async event — bounded wait for the drain)
    val deadline = System.currentTimeMillis + 20000
    while (Freeze.pinnedScopes.contains(Freeze.normalizeScope(ckpt)) &&
           System.currentTimeMillis < deadline) Thread.sleep(50)
    assert(Freeze.pins(ckpt).isEmpty && !Freeze.pinnedScopes.contains(Freeze.normalizeScope(ckpt)),
      "stream stop must release every artifact of the gate's scope")
    assert(spark.sparkContext.getPersistentRDDs.size == pinnedBefore)
    val destroyed = intercept[org.apache.spark.SparkException](shared.value)
    assert(destroyed.getMessage.contains("destroyed"), destroyed.getMessage)
  }
}
