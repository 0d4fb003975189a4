package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The table loaders' schema memo: a table's schema is inferred once
  * per session, and inferred again whenever what inference depends on
  * changes — the table's files or the session's parquet confs.
  */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private def withDir(body: File => Unit): Unit = {
    val d = Files.createTempDirectory("graft-tables").toFile
    try body(d)
    finally Files.walk(d.toPath).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  test("a second read of an unchanged table starts no job") {
    Tables.documents(spark, sfDir)
    val (docs, jobs) = GraftSql.jobsStartedBy(spark)(Tables.documents(spark, sfDir))
    assert(jobs == 0, s"a re-read of documents started $jobs jobs")
    assert(docs.columns.contains("text"))
  }

  test("a directory table rewritten in place with a new schema is inferred again") {
    withDir { d =>
      val t = new File(d, "t.parquet").getPath
      Seq((1L, "a")).toDF("id", "v").write.parquet(t)
      assert(Tables.table(spark, d.getPath, "t").columns.toSeq == Seq("id", "v"))
      Seq((1L, "a", 2.0)).toDF("id", "v", "w").write.mode("overwrite").parquet(t)
      val again = Tables.table(spark, d.getPath, "t")
      assert(again.columns.toSeq == Seq("id", "v", "w"))
      assert(again.collect().map(_.getDouble(2)).toSeq == Seq(2.0))
    }
  }

  test("a single-file table rewritten in place with a new schema is inferred again") {
    withDir { d =>
      val t = new File(d, "t.parquet")
      def writeSingleFile(df: DataFrame, tag: String): Unit = {
        val out = new File(d, tag)
        df.coalesce(1).write.parquet(out.getPath)
        val part = out.listFiles().find(_.getName.endsWith(".parquet")).get
        Files.copy(part.toPath, t.toPath, StandardCopyOption.REPLACE_EXISTING)
      }
      writeSingleFile(Seq((1L, "a")).toDF("id", "v"), "v1")
      assert(Tables.table(spark, d.getPath, "t").columns.toSeq == Seq("id", "v"))
      writeSingleFile(Seq((1L, "a", 2.0)).toDF("id", "v", "w"), "v2")
      val again = Tables.table(spark, d.getPath, "t")
      assert(again.columns.toSeq == Seq("id", "v", "w"))
      assert(again.collect().map(_.getDouble(2)).toSeq == Seq(2.0))
    }
  }

  /** An `events.parquet` whose `ts` is INT64 TIMESTAMP(NANOS): readable
    * only under `spark.sql.legacy.parquet.nanosAsLong`.
    */
  private def writeNanosEvents(d: File): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(new File(d, "events.parquet").toURI))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1500000000000000000L))
    finally w.close()
  }

  test("two sessions read events each under its own nanosAsLong setting") {
    withDir { d =>
      writeNanosEvents(d)
      val other = spark.newSession()
      other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      try {
        assert(Tables.table(spark, d.getPath, "events").schema("ts").dataType == LongType)
        // inferred under the other session's conf, which cannot read nanos
        intercept[Exception](Tables.table(other, d.getPath, "events"))
        val ev = Tables.events(spark, d.getPath)
        assert(ev.schema("ts").dataType == TimestampType)
        assert(ev.collect().head.getTimestamp(0).getTime == 1500000000000L)
        // a conf changed within a session is seen too, both ways
        other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        assert(Tables.table(other, d.getPath, "events").schema("ts").dataType == LongType)
        other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        intercept[Exception](Tables.table(other, d.getPath, "events"))
      } finally SessionCaches.clearAll(other)
    }
  }
}
