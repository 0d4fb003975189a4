package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Freeze lifecycle plumbing: scope normalization (so registration and
  * release agree on one spelling regardless of how the caller spelled
  * the checkpoint path) and the sort-stripping helper the streaming
  * sinks run their per-batch kernels through.
  */
class FreezeSpec extends SparkTestBase {

  test("normalizeScope: relative, absolute, file: URI, trailing slash collapse") {
    val cwd = java.nio.file.Paths.get("").toAbsolutePath.toString
    assert(Freeze.normalizeScope("/tmp/ckpt") == "/tmp/ckpt")
    assert(Freeze.normalizeScope("/tmp/ckpt/") == "/tmp/ckpt")
    assert(Freeze.normalizeScope("/tmp//a/./ckpt") == "/tmp/a/ckpt")
    assert(Freeze.normalizeScope("file:/tmp/ckpt") == "/tmp/ckpt")
    assert(Freeze.normalizeScope("file:///tmp/ckpt") == "/tmp/ckpt")
    assert(Freeze.normalizeScope("ckpt") == s"$cwd/ckpt")
    // the spelling a sink registers and the fully qualified root the
    // listener reads back MUST collapse to the same key
    assert(Freeze.normalizeScope("/tmp/ckpt") ==
      Freeze.normalizeScope("file:/tmp/ckpt"))
    // non-local URIs keep scheme+authority (their normalization belongs
    // to the filesystem), trailing slash trimmed
    assert(Freeze.normalizeScope("hdfs://nn:8020/ckpt/") == "hdfs://nn:8020/ckpt")
  }

  test("scoped/release round-trip across spellings") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    Freeze.scoped("/tmp/freeze-spec-scope/", Seq(1, 2, 3).toDF("v"))
    assert(spark.sparkContext.getPersistentRDDs.size == before + 1)
    // a differently-spelled release of the same location must not no-op
    Freeze.release("file:/tmp/freeze-spec-scope")
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "normalized release must unpersist the pin registered under another spelling")
    assert(!Freeze.pinnedScopes.contains("/tmp/freeze-spec-scope"))
  }

  test("a scope reports its pins' bytes; release unpersists its frames and destroys its broadcasts") {
    import spark.implicits._
    val scope = "/tmp/freeze-spec-bytes"
    val before = spark.sparkContext.getPersistentRDDs.size
    Freeze.scoped(scope, (1 to 1000).toDF("v"))
    val shared = Freeze.scopedBroadcast(scope, spark, (1 to 1000).map(_.toString).toSet)
    val pins = Freeze.pins(scope)
    assert(pins.map(_.getClass) == Seq(classOf[Freeze.BroadcastPin], classOf[Freeze.FramePin]))
    assert(pins.forall(_.bytes > 0), s"every pin holds bytes: ${pins.map(_.bytes)}")
    assert(Freeze.pinnedBytes(Freeze.normalizeScope(scope)) == pins.map(_.bytes).sum)
    Freeze.release(scope)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    assert(Freeze.pins(scope).isEmpty && !Freeze.pinnedBytes.contains(Freeze.normalizeScope(scope)))
    intercept[org.apache.spark.SparkException](shared.value)
  }

  test("GraftSql.unordered strips exactly the top-level presentation sort") {
    import spark.implicits._
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("id", "s")
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
      .orderBy(col("id"))
    val stripped = org.apache.spark.sql.GraftSql.unordered(df)
    assert(!stripped.queryExecution.executedPlan.toString.contains("Sort"),
      s"sort survived:\n${stripped.queryExecution.executedPlan}")
    assert(stripped.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet,
      "stripping the sort must not change the row set")
    // no top-level sort -> identity
    val unsorted = Seq(1, 2).toDF("v")
    assert(org.apache.spark.sql.GraftSql.unordered(unsorted) eq unsorted)
  }
}
